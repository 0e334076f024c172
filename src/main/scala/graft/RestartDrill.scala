package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

/** Streaming RESTART DRILL at magnitude (r15 verdict item 5; st10/st23
  * two-sided outer-join state added per r16 item 7): kill the
  * st2/st5/st6/st8/st10/st23 queries MID-BACKLOG and resume them from
  * their checkpoints, on BOTH state-store providers, and hash-compare the
  * drained result against an uninterrupted run — the claim a checkpoint
  * exists to make ("exactly-once across restarts") proven at sf1-class
  * volume rather than assumed from unit scale.
  *
  * Mechanics:
  *  - the events table is restaged ONCE as a 16-file directory (stamped,
  *    idempotent) so the file source's admission control
  *    (`maxFilesPerTrigger=2`) splits the backlog into ~8 micro-batches —
  *    a single-file source is one all-or-nothing batch with no
  *    mid-backlog to kill;
  *  - the BASELINE run drains the same 16-file source with the same
  *    admission bound uninterrupted — identical batch boundaries, so the
  *    watermark walks the same path in both runs and append-mode output
  *    is comparable batch-for-batch;
  *  - the KILLED run stops the query after `KillAfterBatches` committed
  *    micro-batches (asserted strictly inside the backlog), then a SECOND
  *    start on the same checkpoint drains the rest (AvailableNow's final
  *    no-data batch flushes watermark-closed state exactly as the
  *    baseline's does);
  *  - results are compared by (row count, order-free multiset hash) —
  *    the CleanStore fingerprint form (sum of per-row xxhash64 as
  *    DECIMAL(38,0)) — computed executor-side; nothing data-scaled ever
  *    reaches the driver.
  *
  * Output: one JSON record (default `bench/r16_restart_sf1.json`):
  * per (query × provider) the baseline/resumed counts + hashes, a
  * `match` flag, and the batch the kill landed after. Any mismatch or a
  * kill that failed to land mid-backlog exits non-zero — a drill that
  * degenerates to two uninterrupted runs must not pass silently.
  */
object RestartDrill {

  val KillAfterBatches = 3
  val MaxFilesPerTrigger = 2
  val SourceFiles = 16

  /** (row count, order-free multiset hash) of a result — executor-side. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(struct(df.columns.map(col): _*))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  private def committedBatches(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)

  /** Drain `frame` to a parquet sink. `killAfter = Some(n)` stops the
    * query once n micro-batches committed, then resumes on the same
    * checkpoint to completion; returns (result, Some(batchId killed at)).
    */
  private def drain(
      spark: SparkSession, frame: () => DataFrame, base: File,
      killAfter: Option[Int], statePartitions: Int): (DataFrame, Option[Long]) = {
    val out = new File(base, "out").getAbsolutePath
    val chk = new File(base, "chk").getAbsolutePath
    val stateSession = GraftSession.fork(spark,
      "spark.sql.shuffle.partitions" -> statePartitions.toString)
    def start() = GraftShim.rebind(frame(), stateSession).writeStream
      .outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    val killedAt = killAfter.map { n =>
      val q = start()
      while (q.isActive && committedBatches(q) < n) Thread.sleep(50)
      val at = committedBatches(q)
      if (q.isActive) q.stop()
      q.awaitTermination()
      at
    }
    // the (re)start that drains to completion — for the baseline this
    // is the only start; for the killed run it resumes the checkpoint
    start().awaitTermination()
    val schema = frame().schema
    (spark.read.schema(schema).parquet(out), killedAt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      s"${sys.props("user.dir")}/target/sf1synth")
    val outPath = sys.env.getOrElse(
      "SPARK_GRAFT_RESTART_OUT", "bench/r19_restart_sf1.json")
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    val fakeSf = graft.sources.Staging.stageMultiFile(
      spark, sfDir, "events", SourceFiles, "restart_src")
    val src = () => EventStreams.eventStream(spark, fakeSf,
      Map("maxFilesPerTrigger" -> MaxFilesPerTrigger.toString))
    // st10/st23 (r16 verdict item 7): the outer-join eviction state is
    // the hardest restart surface — null-extended rows are emitted when
    // watermark passage EVICTS join state, so a kill must neither lose an
    // orphan (state dropped) nor double-emit one (eviction replayed
    // non-idempotently). Identical admission bounds give the baseline and
    // the resumed run the same watermark walk, so the comparison includes
    // the orphan rows exactly.
    // Per-frame state-partition counts MATCH the production gates
    // (r17 advisor): the join gates st6/st10/st23 ship at
    // JoinGateStatePartitions, the rest at GateStatePartitions — a drill
    // that proves exactly-once under a DIFFERENT state-partition layout
    // than the shipped configuration proves the wrong thing (the
    // checkpoint pins the count at first start, so the layout under test
    // must be the layout that runs).
    val frames: Seq[(String, () => DataFrame, Int)] = Seq(
      ("st2", () => EventStreams.windowedStream(src()),
        EventStreams.gateParts(fakeSf)),
      ("st5", () => EventStreams.st5Frame(src()),
        EventStreams.gateParts(fakeSf)),
      ("st6", () => EventStreams.st6Frame(src()),
        EventStreams.joinGateParts(fakeSf)),
      ("st8", () => EventStreams.st8Frame(src()),
        EventStreams.gateParts(fakeSf)),
      ("st10", () => EventStreams.st10Frame(src()),
        EventStreams.joinGateParts(fakeSf)),
      ("st23", () => EventStreams.st23Frame(src()),
        EventStreams.joinGateParts(fakeSf)))
    val providers = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft_restart/p${ProcessHandle.current().pid()}")
    graft.sources.Staging.deleteRecursively(root)
    var failed = 0
    val rows = for {
      (pName, pClass) <- providers
      (qName, frame, stateParts) <- frames
    } yield {
      val ps = GraftSession.fork(spark,
        "spark.sql.streaming.stateStore.providerClass" -> pClass)
      val tag = s"$qName:$pName"
      val (baseDf, _) =
        drain(ps, frame, new File(root, s"${tag}_base"), None, stateParts)
      val (b_n, b_h) = fingerprint(baseDf)
      val (resDf, killedAt) =
        drain(ps, frame, new File(root, s"${tag}_kill"),
          Some(KillAfterBatches), stateParts)
      val (r_n, r_h) = fingerprint(resDf)
      val at = killedAt.getOrElse(-1L)
      // the kill must land strictly inside the backlog or the drill
      // proved nothing (16 files / 2 per trigger = 8 data batches)
      val midBacklog = at >= 1 && at < SourceFiles / MaxFilesPerTrigger
      val ok = b_n == r_n && b_h == r_h && midBacklog
      if (!ok) failed += 1
      System.err.println(s"[restart] $tag killed_after_batch=$at " +
        s"base=($b_n,$b_h) resumed=($r_n,$r_h) match=$ok")
      s""""$tag":{"killed_after_batch":$at,"mid_backlog":$midBacklog,""" +
        s""""base_rows":$b_n,"base_hash":"$b_h",""" +
        s""""resumed_rows":$r_n,"resumed_hash":"$r_h","match":$ok}"""
    }
    val takeId = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now()) + "-p" + ProcessHandle.current().pid()
    val rec =
      s"""{"sf":"$sfDir","take_id":"$takeId","source_files":$SourceFiles,""" +
        s""""max_files_per_trigger":$MaxFilesPerTrigger,""" +
        s""""kill_after_batches":$KillAfterBatches,""" +
        s""""n":${rows.size},"n_identical":${rows.size - failed},""" +
        s""""queries":{${rows.mkString(",")}}}"""
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, rec)
    println(rec)
    graft.sources.Staging.deleteRecursively(root)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

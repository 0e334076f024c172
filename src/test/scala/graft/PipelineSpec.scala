package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Feeds
import graft.sources.Tables

/** Golden end-to-end: the full reference flow on sf0.001 (SURVEY.md §5). */
class PipelineSpec extends AnyFunSuite with SparkFixture {

  test("run: validates, cleans with reconciling accounting, sinks clean table + feeds") {
    val out = Files.createTempDirectory("pipeline").toString
    val res = Pipeline.run(spark, sf001, out)

    // accounting reconciles against the raw row count
    val rawRows = Tables.lineitem(spark, sf001).count()
    assert(res.accounting("rows_in") === rawRows)
    val removed = res.accounting.collect { case (k, v) if k.startsWith("removed_") && k != "removed_total" => v }.sum
    assert(res.accounting("rows_out") + removed === rawRows)

    // the clean table round-trips with the derived columns present
    val clean = spark.read.parquet(res.cleanPath)
    assert(clean.count() === res.accounting("rows_out"))
    Seq("duration_days", "start_hour", "start_day_of_week", "rate_per_day")
      .foreach(c => assert(clean.columns.contains(c), s"missing derived column $c"))

    // every chart feed materialized
    Feeds.feedNames.foreach { name =>
      assert(new java.io.File(s"${res.feedDir}/$name").exists(), s"feed $name missing")
    }

    // the clean EVENTS staging is also written, date-partitioned
    assert(new java.io.File(s"$out/clean_events").listFiles()
      .exists(_.getName.startsWith("event_date=")),
      "clean events table missing or unpartitioned")

    // the clean table is PARTITIONED by ship date (SURVEY §7.4(7)) ...
    val partDirs = new java.io.File(res.cleanPath)
      .listFiles().filter(_.getName.startsWith("ship_date="))
    assert(partDirs.length > 100, s"expected daily partition dirs, got ${partDirs.length}")

    // ... so the dashboard's F1 date filter becomes partition PRUNING:
    // the scan must select only the matching partitions, not all of them
    val filtered = clean.filter(
      org.apache.spark.sql.functions.col("ship_date")
        .between("1995-03-01", "1995-03-31"))
    val scan = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PartitionFilters").contains("ship_date"),
      s"date filter not applied as a partition filter: ${scan.metadata("PartitionFilters")}")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected < partDirs.length / 10,
      s"partition pruning ineffective: $selected of ${partDirs.length} partitions read")
    assert(filtered.count() ===
      clean.filter("to_date(l_shipdate) BETWEEN '1995-03-01' AND '1995-03-31'").count())
  }

  test("run: independent stages overlap as concurrent jobs; accounting equals accountingAgg") {
    import org.apache.spark.scheduler._
    // job id -> (start ms, top-level SQL execution, description); job id -> end ms
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val marker = "pipelinespec-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        val exec = Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))).orNull
        starts.put(e.jobId, (e.time, exec, p.getProperty("spark.job.description")))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ends.put(e.jobId, e.time)
        if (Option(starts.get(e.jobId)).exists(_._3 == marker)) markerDone.countDown()
      }
    }
    val out = Files.createTempDirectory("pipeline_concurrent").toString
    spark.sparkContext.addSparkListener(listener)
    val res = try {
      val r = Pipeline.run(spark, sf001, out)
      // the listener bus is FIFO: once the marker job's end arrives, every
      // event of the run before it has been delivered
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      r
    } finally spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val jobs = starts.asScala.toSeq.collect {
      case (id, (t0, exec, desc)) if desc != marker => (t0, ends.get(id), exec)
    }
    assert(jobs.size >= 8, s"expected the sinks' and feeds' jobs, got ${jobs.size}")
    // two jobs of DIFFERENT top-level queries alive at once: one query's
    // own adaptive stages overlapping does not count
    val overlapping = for {
      (a, i) <- jobs.zipWithIndex; (b, j) <- jobs.zipWithIndex
      if i < j && a._3 != b._3 && a._1 < b._2 && b._1 < a._2
    } yield (a, b)
    assert(overlapping.nonEmpty, s"no two queries' jobs overlapped: $jobs")

    val agg = graft.operators.Cleaning.accountingAgg(
      Tables.lineitem(spark, sf001), graft.operators.Analytics.cleaningRules).collect().head
    val expected = agg.getValuesMap[Long](agg.schema.fieldNames.toSeq)
    assert(res.accounting === expected +
      ("removed_total" -> expected.collect { case (k, v) if k.startsWith("removed_") => v }.sum))
  }

  test("feed parity: feeds served from the streaming-ingested clean table equal the batch feeds") {
    // The last reference behavior unified end-to-end: the notebook writes
    // the clean table and the app recleans it per chart; here the SAME
    // Feeds.writeAll serves from either clean layer — the batch CleanStore
    // staging or st8's continuously-ingested streaming sink — and must
    // emit identical rows. (st8 is stateless exactly-once append, so its
    // read-back IS the clean events table, just written by the always-on
    // path.)
    import graft.operators.CleanStore
    import graft.streaming.EventStreams
    val batchServed = Feeds.Served(
      CleanStore.lineitem(spark, sf001), CleanStore.events(spark, sf001))
    val streamServed = batchServed.copy(
      events = EventStreams.st8StreamIngest(spark, sf001, ordered = false))
    val outB = Files.createTempDirectory("feeds_batch").toString
    val outS = Files.createTempDirectory("feeds_stream").toString
    Feeds.writeAll(spark, sf001, outB, batchServed)
    Feeds.writeAll(spark, sf001, outS, streamServed)
    Feeds.feedNames.foreach { name =>
      def readSorted(dir: String) = {
        val df = spark.read.parquet(s"$dir/$name")
        df.orderBy(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
          .collect().toSeq
      }
      assert(readSorted(outB) === readSorted(outS), s"feed $name differs between paths")
      assert(readSorted(outB).nonEmpty, s"feed $name empty")
    }
  }
}

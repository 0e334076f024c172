package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, lit, to_date}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, CleanStore, Params}
import graft.operators.Params.EventParams

/** A clean store at or under the one-partition limit is served as one
  * partition: the dashboard's charts over it give the rows a
  * multi-partition read gives, each runs as one job with no exchange, and
  * a store over the limit plans as before.
  */
class OnePartitionServeSpec extends AnyFunSuite with SparkFixture {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The dashboard's five charts for one widget state over `clean`, pruned
    * to the window's dates.
    */
  private def charts(clean: DataFrame, p: EventParams): Seq[(String, DataFrame)] = {
    val pruned = clean.filter(col("event_date").between(
      to_date(lit(p.tsLo).cast("timestamp")), to_date(lit(p.tsHi).cast("timestamp"))))
    val f = Params.paramFilter(pruned, p)
    Seq("typeSummary" -> Params.typeSummary(pruned, p), "q12" -> Analytics.q12GlobalMetricsOn(f),
      "q06" -> Analytics.q06HourlyAvgOn(f), "q15" -> Analytics.q15ValueCountsOn(f),
      "q11" -> Analytics.q11HeatmapOn(f))
  }

  /** `n` widget states drawn from `seed`: a 1–27 day window in January
    * 2024, an hour window and a non-empty type subset.
    */
  private def states(seed: Long, n: Int): Seq[EventParams] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n) {
      val days = 1 + rng.nextInt(27)
      val start = java.time.LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(30 - days + 1).toLong)
      val h0 = rng.nextInt(24)
      val types = rng.shuffle(eventTypes).take(1 + rng.nextInt(eventTypes.size)).sorted
      EventParams(s"$start 00:00:00", s"${start.plusDays(days.toLong)} 00:00:00",
        h0, h0 + rng.nextInt(24 - h0), types)
    }
  }

  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case other => other.toString
  }

  private def isOnePartition(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case Repartition(1, false, _) => true
    case _ => false
  }

  test("the five charts over the one-partition serve equal a multi-partition read's, in order") {
    val served = CleanStore.events(spark, sf001)
    assert(isOnePartition(served))
    val spread = spark.read.schema(served.schema).parquet(CleanStore.stagePath(sf001, "events"))
    assert(spread.rdd.getNumPartitions > 1)
    var nonEmpty = 0
    for (p <- states(seed = 11L, n = 40)) {
      for (((name, one), (_, many)) <- charts(served, p).zip(charts(spread, p))) {
        val rows = one.collect().toSeq
        assert(rows === many.collect().toSeq, s"$name under $p")
        if (name == "typeSummary" && rows.nonEmpty) nonEmpty += 1
      }
    }
    assert(nonEmpty >= 20, s"only $nonEmpty of 40 states selected any rows")
  }

  test("each chart over the one-partition serve runs 1 job and no exchange") {
    val a = EventParams("2024-01-05 00:00:00", "2024-01-20 00:00:00", 6, 18,
      Seq("view", "click", "purchase"))
    charts(CleanStore.events(spark, sf001), a).foreach(_._2.collect())
    val b = EventParams("2024-01-09 00:00:00", "2024-01-26 12:00:00", 2, 21,
      Seq("purchase", "signup", "error"))
    for ((name, df) <- charts(CleanStore.events(spark, sf001), b)) {
      assert(jobs(df.collect()) === 1, name)
      val plan = finalPlan(df)
      assert(!plan.contains("Exchange"), s"$name:\n$plan")
      assert(plan.contains("Coalesce 1"), s"$name:\n$plan")
    }
  }

  test("a store over the limit keeps its exchanges and gives the same rows") {
    val tight: SparkSession = GraftSession.fork(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    val spread = CleanStore.events(tight, sf001)
    assert(!isOnePartition(spread))
    for (p <- states(seed = 23L, n = 3)) {
      for (((name, one), (_, many)) <-
          charts(CleanStore.events(spark, sf001), p).zip(charts(spread, p))) {
        val rows = many.collect().toSeq
        assert(one.collect().toSeq === rows, s"$name under $p")
        val plan = finalPlan(many)
        assert(plan.contains("Exchange") && !plan.contains("Coalesce 1"), s"$name:\n$plan")
      }
    }
  }

  test("pf3 over the one-partition serve still prunes dates and pushes its ts bounds") {
    // at this scale the one-partition read is cached, so the file scan
    // sits in the cached plan and reads every date once; a store over the
    // limit is read from files, pruned per query
    val cachedPlan = Params.pf3ParamFilterClean(spark, sf001).queryExecution.sparkPlan
      .collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }.head
    assert(cachedPlan.collect { case c: CoalesceExec => c.numPartitions } === Seq(1),
      cachedPlan.toString)
    val tight = GraftSession.fork(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    val df = Params.pf3ParamFilterClean(tight, sf001)
    val plan = df.queryExecution.sparkPlan
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PartitionFilters").contains("event_date"), scan.metadata.toString)
    val total = new java.io.File(CleanStore.stagePath(sf001, "events"))
      .listFiles().count(_.getName.startsWith("event_date="))
    assert(scan.selectedPartitions.partitionCount < total)
    assert(scan.metadata("PushedFilters").contains("ts"), scan.metadata("PushedFilters"))
  }

  test("a frame that is not a bare file read is served as it is") {
    val agg = spark.range(10).groupBy((col("id") % 2).as("k")).count()
    assert(CleanStore.onePartitionIfSmall(agg) eq agg)
  }
}

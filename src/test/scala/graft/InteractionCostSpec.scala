package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions.{col, lit, to_date}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, CleanStore, Params}
import graft.operators.Params.EventParams

/** The fixed cost of one dashboard interaction: compiles, jobs and the
  * clean store's serve. A repeated interaction that only moves its widget
  * bounds compiles nothing, a small sorted chart runs no range exchange,
  * and serving the fresh store runs no job.
  */
class InteractionCostSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private val sortedCharts = Seq("typeSummary", "q06", "q15", "q11")

  /** The dashboard's five charts for one widget state, over the served
    * clean events pruned to the window's dates.
    */
  private def charts(p: EventParams): Seq[(String, DataFrame)] = {
    val clean = CleanStore.events(spark, sf001)
    val pruned = clean.filter(col("event_date").between(
      to_date(lit(p.tsLo).cast("timestamp")), to_date(lit(p.tsHi).cast("timestamp"))))
    val f = Params.paramFilter(pruned, p)
    Seq("typeSummary" -> Params.typeSummary(pruned, p), "q12" -> Analytics.q12GlobalMetricsOn(f),
      "q06" -> Analytics.q06HourlyAvgOn(f), "q15" -> Analytics.q15ValueCountsOn(f),
      "q11" -> Analytics.q11HeatmapOn(f))
  }

  private def interaction(p: EventParams): Seq[Array[Row]] = charts(p).map(_._2.collect())

  private val stateA = EventParams("2024-01-05 00:00:00", "2024-01-20 00:00:00", 6, 18,
    Seq("view", "click", "purchase"))
  private val stateB = EventParams("2024-01-09 00:00:00", "2024-01-26 12:00:00", 2, 21,
    Seq("purchase", "signup", "error"))

  test("a second interaction with new ts and hour bounds compiles nothing") {
    interaction(stateA)
    assert(compiles(interaction(stateB)) === 0L)
  }

  test("1, 3 and 5 types share two compiled shapes: `=` and one string IN") {
    interaction(stateA.copy(types = Seq("view")))
    interaction(stateA.copy(types = Seq("view", "click")))
    val n = compiles {
      interaction(stateB.copy(types = Seq("click", "signup", "error")))
      interaction(stateB.copy(types = Seq("view", "click", "purchase", "signup", "error")))
      interaction(stateB.copy(types = Seq("error")))
    }
    assert(n === 0L)
  }

  test("bound interactions count the rows a plain Scala filter counts") {
    def instant(ts: String) = LocalDateTime.parse(ts.replace(' ', 'T')).toInstant(ZoneOffset.UTC)
    val rows = spark.read.parquet(CleanStore.stagePath(sf001, "events"))
      .select("ts", "event_type").collect().map { r =>
        val ts = r.get(0) match { case t: java.sql.Timestamp => t.toInstant; case i: Instant => i }
        (ts, r.getString(1))
      }
    for (p <- Seq(stateB, stateA.copy(types = Seq("click")))) {
      val expected = rows.filter { case (ts, t) =>
        val hour = ts.atZone(ZoneOffset.UTC).getHour
        !ts.isBefore(instant(p.tsLo)) && !ts.isAfter(instant(p.tsHi)) &&
          hour >= p.hourLo && hour <= p.hourHi && p.types.contains(t)
      }.groupBy(_._2).map { case (t, rs) => t -> rs.length.toLong }.toSeq.sorted
      assert(expected.nonEmpty)
      assert(interaction(p).head.map(r => r.getString(0) -> r.getLong(1)).toSeq === expected)
    }
  }

  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case other => other.toString
  }

  test("each small sorted chart runs 1 job and no range exchange") {
    interaction(stateA)
    for ((name, df) <- charts(stateB) if sortedCharts.contains(name)) {
      assert(jobs(df.collect()) === 1, name)
      val plan = finalPlan(df)
      assert(!plan.toLowerCase.contains("rangepartitioning"), s"$name:\n$plan")
      assert(plan.contains("Coalesce 1"), s"$name:\n$plan")
    }
  }

  test("a sort over a stage above the one-partition limit keeps its range exchange") {
    def sorted(s: org.apache.spark.sql.SparkSession): DataFrame =
      s.range(0, 2000, 1, 4).groupBy((col("id") % 500).as("k")).count().orderBy(col("k"))
    val small = sorted(spark)
    val expected = small.collect().toSeq
    assert(!finalPlan(small).toLowerCase.contains("rangepartitioning"), finalPlan(small))
    val tight = GraftSession.fork(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    val big = sorted(tight)
    assert(big.collect().toSeq === expected)
    assert(finalPlan(big).toLowerCase.contains("rangepartitioning"), finalPlan(big))
  }

  test("a small sort under a limit stays a top-k") {
    val df = spark.range(0, 2000, 1, 4).groupBy((col("id") % 500).as("k")).count()
      .orderBy(col("count").desc, col("k")).limit(5)
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    assert(finalPlan(df).contains("TakeOrderedAndProject"), finalPlan(df))
  }

  test("pf3: Filter and PushedFilters print as before binding, and the filter is bound") {
    // over the one-partition limit the store is read from files, so the
    // plan has a file scan with pushed filters to compare
    val tight = GraftSession.fork(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    val df = Params.pf3ParamFilterClean(tight, sf001)
    df.collect()
    def filters(p: SparkPlan): Seq[FilterExec] = collect(p) { case f: FilterExec => f }
    def pushed(p: SparkPlan): Seq[String] =
      collect(p) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
    val before = filters(df.queryExecution.sparkPlan)
    val after = filters(df.queryExecution.executedPlan)
    assert(before.nonEmpty)
    assert(after.map(_.simpleString(Int.MaxValue)) === before.map(_.simpleString(Int.MaxValue)))
    assert(after.map(_.condition.sql) === before.map(_.condition.sql))
    assert(after.exists(_.condition.exists(_.isInstanceOf[BoundConstant])))
    assert(after.exists(_.condition.exists(_.isInstanceOf[BoundStringIn])))
    assert(pushed(df.queryExecution.sparkPlan).exists(_.contains("ts")),
      pushed(df.queryExecution.sparkPlan).toString)
    assert(pushed(df.queryExecution.executedPlan) === pushed(df.queryExecution.sparkPlan))
  }

  test("the served schema equals the inferred one, and a fresh serve runs no job") {
    CleanStore.events(spark, sf001)
    var served: DataFrame = null
    assert(jobs { served = CleanStore.events(spark, sf001) } === 0)
    assert(served.schema === spark.read.parquet(CleanStore.stagePath(sf001, "events")).schema)
  }
}

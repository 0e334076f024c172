package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{DefaultCachedBatch, DefaultCachedBatchSerializer, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, CleanStore, Params}
import graft.operators.Params.EventParams

/** A served clean store at or under the one-partition limit is served from
  * an in-memory snapshot: from the second query on, a chart reads the
  * cache and no file. The snapshot never outlives the store content it was
  * taken from: a refresh by this JVM, a rewrite by another writer and a
  * cleared cache each serve the current rows.
  */
class CachedServeSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private def rm(f: File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(); ()
  }

  /** (in-memory scans, file scans) of `df`'s executed plan, after running it. */
  private def scans(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case s: InMemoryTableScanExec => s }.size,
      collect(plan) { case s: FileSourceScanExec => s }.size)
  }

  /** Per date: (rows, value sum) of a served store. */
  private def perDate(served: DataFrame): Map[String, (Long, Double)] =
    served.groupBy(col("event_date").cast("string").as("d"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  /** A scale dir whose events are the first `n` dates of the test corpus,
    * and those dates.
    */
  private def smallSource(dir: File, n: Int): Seq[String] = {
    val base = graft.sources.Tables.events(spark, sf001)
    val dates = base.select(to_date(col("ts")).cast("string").as("d")).distinct()
      .orderBy(col("d")).limit(n).collect().map(_.getString(0)).toSeq
    base.filter(to_date(col("ts")).cast("string").isin(dates: _*))
      .write.parquet(new File(dir, "events.parquet").getAbsolutePath)
    dates
  }

  /** The served rows of `sfDir` after a query has filled the snapshot, and
    * whether a second query read them from memory and no file.
    */
  private def serveTwice(session: SparkSession, sfDir: String): Map[String, (Long, Double)] = {
    val rows = perDate(CleanStore.events(session, sfDir))
    val again = CleanStore.events(session, sfDir)
    assert(perDate(again) === rows)
    assert(scans(again.groupBy(col("event_date")).count()) === ((1, 0)),
      "the second query over the served store did not read the in-memory snapshot")
    rows
  }

  test("from the second interaction on, every chart reads the in-memory snapshot and no file") {
    def charts(p: EventParams): Seq[(String, DataFrame)] = {
      val clean = CleanStore.events(spark, sf001)
      val pruned = clean.filter(col("event_date").between(
        to_date(lit(p.tsLo).cast("timestamp")), to_date(lit(p.tsHi).cast("timestamp"))))
      val f = Params.paramFilter(pruned, p)
      Seq("typeSummary" -> Params.typeSummary(pruned, p),
        "q12" -> Analytics.q12GlobalMetricsOn(f), "q06" -> Analytics.q06HourlyAvgOn(f),
        "q15" -> Analytics.q15ValueCountsOn(f), "q11" -> Analytics.q11HeatmapOn(f))
    }
    charts(EventParams("2024-01-05 00:00:00", "2024-01-20 00:00:00", 6, 18,
      Seq("view", "click", "purchase"))).foreach(_._2.collect())
    for ((name, df) <- charts(EventParams("2024-01-09 00:00:00", "2024-01-26 12:00:00", 2, 21,
        Seq("purchase", "signup", "error")))) {
      assert(scans(df) === ((1, 0)), s"$name:\n${df.queryExecution.executedPlan}")
    }
  }

  test("after a source change, the incremental refresh serves the new rows, not the cached ones") {
    val tmpSf = Files.createTempDirectory("graft_cached_src").toFile
    val srcPath = new File(tmpSf, "events.parquet")
    val stageDir = new File(CleanStore.stagePath(tmpSf.getAbsolutePath, "events"))
    try {
      val dates = smallSource(tmpSf, 2)
      val v1 = serveTwice(spark.newSession(), tmpSf.getAbsolutePath)
      assert(v1.keySet === dates.toSet)

      // v2 doubles the first date's values; fresh sessions per phase,
      // because each session's source reader pins its first listing
      val v2File = new File(tmpSf, "events_v2.parquet")
      graft.sources.Tables.events(spark.newSession(), tmpSf.getAbsolutePath)
        .withColumn("value", when(to_date(col("ts")).cast("string") === dates.head,
          col("value") * 2).otherwise(col("value")))
        .write.parquet(v2File.getAbsolutePath)
      rm(srcPath)
      assert(v2File.renameTo(srcPath), "source swap failed")
      assert(srcPath.setLastModified(new File(stageDir, "_SUCCESS").lastModified + 2000))

      val v2 = serveTwice(spark.newSession(), tmpSf.getAbsolutePath)
      val (n0, s0) = v1(dates.head)
      assert(v2(dates.head)._1 === n0 && math.abs(v2(dates.head)._2 - 2 * s0) < 1e-6,
        s"the refreshed date serves ${v2(dates.head)}, wanted ($n0, ${2 * s0})")
      assert(v2(dates(1)) === v1(dates(1)))
    } finally {
      rm(tmpSf); rm(stageDir)
    }
  }

  test("a store another writer rewrote is served with the new rows") {
    val tmpSf = Files.createTempDirectory("graft_cached_writer").toFile
    val stageDir = new File(CleanStore.stagePath(tmpSf.getAbsolutePath, "events"))
    try {
      val dates = smallSource(tmpSf, 2)
      val before = serveTwice(spark.newSession(), tmpSf.getAbsolutePath)

      // another process's refresh of the first date, done by hand: new
      // files for the date and its new fingerprint line, source unchanged
      val d0 = dates.head
      val partDir = new File(stageDir, s"event_date=$d0")
      val staged = new File(tmpSf, "rewritten")
      spark.newSession().read.parquet(partDir.getAbsolutePath)
        .withColumn("value", col("value") + 1)
        .coalesce(1).write.parquet(staged.getAbsolutePath)
      rm(partDir)
      assert(staged.renameTo(partDir), "partition swap failed")
      val fpFile = new File(stageDir, "_graft_partitions")
      val fps = new String(Files.readAllBytes(fpFile.toPath)).linesIterator.map { l =>
        if (l.startsWith(s"$d0\t")) s"$d0\t${before(d0)._1}\t0" else l
      }.mkString("\n")
      Files.write(fpFile.toPath, fps.getBytes)

      val after = serveTwice(spark.newSession(), tmpSf.getAbsolutePath)
      val (n0, s0) = before(d0)
      assert(after(d0)._1 === n0 && math.abs(after(d0)._2 - (s0 + n0)) < 1e-6,
        s"the rewritten date serves ${after(d0)}, wanted ($n0, ${s0 + n0})")
      assert(after(dates(1)) === before(dates(1)))
    } finally {
      rm(tmpSf); rm(stageDir)
    }
  }

  test("after clearCache the next serve is cached again and gives the same rows") {
    val before = serveTwice(spark, sf001)
    spark.catalog.clearCache()
    assert(CleanStore.events(spark, sf001).storageLevel.useMemory,
      "the serve after clearCache is not cached")
    assert(serveTwice(spark, sf001) === before)
  }

  test("a bound constant in a cached scan's predicate still prunes batches") {
    val ts = AttributeReference("ts", TimestampType)()
    // a batch's statistics: lower bound, upper bound, null count, count, size
    def batch(lo: Long, hi: Long) =
      DefaultCachedBatch(1, Array.empty, InternalRow(lo, hi, 0, 1, 8L))
    def kept(p: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Long] =
      new DefaultCachedBatchSerializer().buildFilter(Seq(p), Seq(ts))(
        0, Iterator(batch(0L, 50L), batch(60L, 150L)))
        .map(_.asInstanceOf[DefaultCachedBatch].stats.getLong(0)).toSeq
    val plain = GreaterThanOrEqual(ts, Literal(100L, TimestampType))
    val bound = BindFilterConstants.bindScanPredicate(plain)
    assert(bound.exists(_.isInstanceOf[BoundScanConstant]), bound.toString)
    assert(bound.toString === plain.toString)
    assert(kept(plain) === Seq(60L))
    assert(kept(bound) === Seq(60L))
  }
}

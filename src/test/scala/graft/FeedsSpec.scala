package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CleanStore, Feeds}

/** §2.11 — the chart-feed sink contract: every feed lands as ONE small
  * file per format and round-trips exactly, computed from the materialized
  * clean serving layer.
  */
class FeedsSpec extends AnyFunSuite with SparkFixture {

  test("writeAll materializes every feed as a single file that round-trips") {
    val out = Files.createTempDirectory("feeds").toString
    Feeds.writeAll(spark, sf001, out)
    val served = Feeds.Served(
      CleanStore.lineitem(spark, sf001), CleanStore.events(spark, sf001))
    Feeds.feeds(served, spark, sf001).foreach { case (name, df) =>
      val expected = df.collect().map(_.toSeq).toSet
      assert(expected.nonEmpty, s"$name produced no rows")
      val parquetFiles = new java.io.File(s"$out/$name")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parquetFiles.length === 1, s"$name: one parquet file per feed")
      val roundTrip = spark.read.parquet(s"$out/$name").collect().map(_.toSeq).toSet
      assert(roundTrip === expected, s"$name parquet round-trip")
      val jsonCount = spark.read.json(s"$out/${name}_json").count()
      assert(jsonCount === expected.size.toLong, s"$name json row count")
    }
  }

  test("writeAll: a failing feed surfaces its own exception after every feed has stopped") {
    import org.apache.spark.sql.functions.expr
    val out = Files.createTempDirectory("feeds_fail").toString
    val served = Feeds.Served(
      CleanStore.lineitem(spark, sf001),
      CleanStore.events(spark, sf001)
        .withColumn("value", expr("cast(raise_error('boom') as double)")))
    val e = intercept[Throwable](Feeds.writeAll(spark, sf001, out, served))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], s"wrapped: $e")
    assert(String.valueOf(e.getMessage).contains("boom"), s"not the original failure: $e")
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.isAlive && t.getName.startsWith(Concurrently.ThreadPrefix)),
      "a feed thread outlived writeAll")
    // the status store is fed by the listener bus, so it may trail the
    // jobs' ends by a moment; every job has ended (its thread is gone)
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(20)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }
}

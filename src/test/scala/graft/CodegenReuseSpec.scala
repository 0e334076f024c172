package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Warm work compiles nothing: a repeated registry pass, a repeated stream
  * gate and a query moved to a fork all reuse the classes codegen already
  * made, because every session shares one class loader and the cache holds
  * the registry's classes.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkFixture {

  private val registry = SparkEntry.benchQueries

  /** One registry query, built and fully evaluated as graft.Bench runs it. */
  private def run(name: String): Unit = {
    registry(name)(spark, sf001).queryExecution.toRdd.count()
    spark.catalog.clearCache()
  }

  test("a second pass over a registry subset compiles nothing") {
    val subset = Seq("dd17_scrub_dup_spans", "sql8_window_ranks", "td17_dup_ngrams",
      "q40_triangles", "st9_mv_maintenance")
    subset.foreach(run)
    assert(compiles(subset.foreach(run)) === 0L)
  }

  test("a second run of a stream gate compiles nothing") {
    run("st9_mv_maintenance")
    assert(compiles(run("st9_mv_maintenance")) === 0L)
  }

  test("a query on a fork after the same query on the caller compiles nothing") {
    def query(s: SparkSession): DataFrame = s.range(0, 5000, 1, 4)
      .filter(col("id") % 11 === 4).groupBy((col("id") % 13).as("k")).agg(sum("id"))
    val expected = query(spark).collect().toSet
    val fork = GraftSession.fork(spark,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    var rows = Set.empty[Row]
    assert(compiles { rows = query(fork).collect().toSet } === 0L)
    assert(rows === expected)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Cleaning
import graft.operators.Cleaning.Rule

/** V9 — sequential attribution semantics on a hand-built frame (reference:
  * assignment1.ipynb:147–164: each rule counts only rows that survived
  * every earlier rule; order matters).
  */
class CleaningSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // (id, qty, price) rows crafted so several rows fail MULTIPLE rules —
  // attribution must charge each to the FIRST failing rule only.
  private def frame = Seq(
    (Some(1L), Some(5.0), Some(10.0)),   // clean
    (None,     Some(-1.0), Some(10.0)),  // null id AND bad qty -> nulls
    (Some(3L), None,       Some(2000.0)),// null qty AND price cap -> nulls
    (Some(4L), Some(-2.0), Some(2000.0)),// bad qty AND price cap -> quantity
    (Some(5L), Some(1.0),  Some(-3.0)),  // price_pos
    (Some(6L), Some(1.0),  Some(2000.0)),// price_cap
    (Some(7L), Some(2.0),  Some(20.0))   // clean
  ).toDF("id", "qty", "price")

  private val rules = Seq(
    Rule("nulls", Cleaning.notNull(Seq("id", "qty", "price"))),
    Rule("quantity", col("qty") > 0),
    Rule("price_pos", col("price") > 0),
    Rule("price_cap", col("price") <= 1000))

  private val expected = Map(
    "rows_in" -> 7L, "removed_nulls" -> 2L, "removed_quantity" -> 1L,
    "removed_price_pos" -> 1L, "removed_price_cap" -> 1L, "rows_out" -> 2L)

  test("accountingAgg: sequential attribution, one aggregate row") {
    val row = Cleaning.accountingAgg(frame, rules).collect().head
    expected.foreach { case (k, v) =>
      assert(row.getAs[Long](k) === v, s"metric $k")
    }
  }

  test("cleanWithAccounting: a parquet write alone fills every accountingAgg metric") {
    val (cleaned, obs) = Cleaning.cleanWithAccounting(frame, rules)
    val out = java.nio.file.Files.createTempDirectory("observed").toString
    cleaned.write.mode("overwrite").parquet(out) // the only action: no count()
    // bounded wait: Observation.get would block forever if the write had
    // not filled the observation
    scala.concurrent.Await.ready(obs.future, scala.concurrent.duration.Duration(60, "s"))
    val counts = Cleaning.accounting(obs)
    val agg = Cleaning.accountingAgg(frame, rules).collect().head
    assert(counts.keySet === agg.schema.fieldNames.toSet + "removed_total")
    agg.schema.fieldNames.foreach { k =>
      assert(counts(k) === agg.getAs[Long](k), s"metric $k")
    }
    expected.foreach { case (k, v) => assert(counts(k) === v, s"metric $k") }
    assert(counts("removed_total") === 5L)
    assert(spark.read.parquet(out).count() === 2L)
  }

  test("clean keeps exactly the rows passing every rule (null predicate = fail)") {
    val ids = Cleaning.clean(frame, rules).select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 7L))
  }
}

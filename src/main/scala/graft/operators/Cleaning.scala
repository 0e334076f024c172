package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Row-quality cleaning with per-rule removal accounting.
  *
  * Reference semantics (assignment1.ipynb:112–164): drop nulls on critical
  * columns, then apply ordered predicates, counting for each rule only the
  * rows that survived every earlier rule (sequential attribution — order
  * matters). The reference does this as five eager passes; here it is ONE
  * pass: the conjunction of all predicates is a single pushed-down Filter,
  * and the per-rule counts ride along as `observe()` metrics, so at 100 TB
  * the accounting costs zero extra scans and zero shuffles.
  */
object Cleaning {

  final case class Rule(name: String, predicate: Column)

  /** Null-check predicate for the critical-column rule (V4). */
  def notNull(criticalCols: Seq[String]): Column =
    criticalCols.map(col(_).isNotNull).reduce(_ && _)

  /** The cleaned frame: one conjunctive filter, fully pushdown-friendly. */
  def clean(df: DataFrame, rules: Seq[Rule]): DataFrame =
    df.filter(rules.map(_.predicate).reduce(_ && _))

  /** Cleaned frame + an [[Observation]] carrying the whole accounting:
    * `rows_in`, `removed_<rule>` with the reference's sequential
    * attribution, `removed_total` and `rows_out` — the same semantics as
    * [[accountingAgg]] (a null predicate fails its rule). The metrics are
    * filled by whatever action runs the returned frame (a parquet write
    * is enough; no extra count job). Read them with [[accounting]] only
    * after that action has SUCCEEDED: `Observation.get` waits for a
    * successful action and never returns if it failed.
    */
  def cleanWithAccounting(
      df: DataFrame,
      rules: Seq[Rule]): (DataFrame, Observation) = {
    val obs = Observation("clean")
    val metrics = count(lit(1)).as("rows_in") +: removedCounts(rules) :+
      count(when(!passedAll(rules), 1)).as("removed_total") :+
      count(when(passedAll(rules), 1)).as("rows_out")
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    (clean(observed, rules), obs)
  }

  /** The metrics of a [[cleanWithAccounting]] observation whose action has
    * completed successfully.
    */
  def accounting(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }

  /** V9 as a query: the per-rule removal counts as a ONE-ROW DataFrame —
    * `rows_in, removed_<rule>..., rows_out` — with the reference's
    * sequential attribution (rule i counts only rows that passed rules
    * 0..i−1; assignment1.ipynb:147–164). One aggregate over one scan, no
    * shuffle beyond the single-row combine; oracle-expressible as chained
    * conditional counts, unlike the observe() variant.
    */
  def accountingAgg(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val exprs = count(lit(1)).as("rows_in") +: removedCounts(rules) :+
      count(when(passedAll(rules), 1)).as("rows_out")
    df.agg(exprs.head, exprs.tail: _*)
  }

  private def passed(r: Rule): Column = coalesce(r.predicate, lit(false))

  private def passedAll(rules: Seq[Rule]): Column = rules.map(passed).reduce(_ && _)

  /** `removed_<rule>`: rule i counts the rows failing predicate i that
    * passed predicates 0..i−1.
    */
  private def removedCounts(rules: Seq[Rule]): Seq[Column] =
    rules.zipWithIndex.map { case (r, i) =>
      val survivedEarlier =
        rules.take(i).map(passed).foldLeft(lit(true))(_ && _)
      count(when(survivedEarlier && !passed(r), 1)).as(s"removed_${r.name}")
    }

  /** Per-column null census (V10/A12): one aggregate row, `<col>_nulls`. */
  def nullCensus(df: DataFrame): DataFrame = {
    val exprs = df.columns.map { c =>
      (count(lit(1)) - count(col(c))).as(s"${c}_nulls")
    }
    df.agg(exprs.head, exprs.tail: _*)
  }
}

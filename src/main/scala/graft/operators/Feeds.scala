package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** §2.11 — chart-feed sink contracts. The reference's five visualizations
  * are rendered by an external viz layer (Plotly/Streamlit); the engine's
  * job ends at SMALL, bounded aggregate tables written where that layer can
  * read them (BASELINE "Spark batch/streaming ETL + external viz").
  *
  * Feeds are served FROM THE MATERIALIZED CLEAN TABLES — the reference's
  * own serving pattern (assignment1.ipynb:223 stages the cleaned parquet;
  * app.py:97 reads the staged file for every chart): at 100 TB a dashboard
  * refresh must hit the date-partitioned clean layer, not re-scan and
  * re-clean the raw corpus. Dimension tables (part) stay raw — they are
  * not cleaned by the pipeline.
  *
  * Feeds are ≤ a few hundred rows by construction (every one is a bounded
  * aggregate), so `coalesce(1)` writes one file per feed — the shape a
  * dashboard reader wants — without ever pulling fact-table data through
  * the driver. Parquet for typed consumers, JSON lines for web-facing ones.
  * Being small, feeds are job-overhead-bound, not data-bound, so
  * [[writeAll]] writes them concurrently to overlap that overhead.
  */
object Feeds {

  /** The served clean tables a feed computes from. */
  final case class Served(lineitem: DataFrame, events: DataFrame)

  /** The feed inventory (stable contract for consumers and tests). */
  val feedNames: Seq[String] = Seq(
    "metric_tiles", "top_parts", "hourly_avg", "histogram", "payment_pie", "heatmap")

  /** feed name → the bounded aggregate that computes it (app.py:109–381),
    * over the served clean tables (+ raw dims where the body joins one).
    */
  def feeds(t: Served, spark: SparkSession, sfDir: String): Map[String, DataFrame] = Map(
    "metric_tiles" -> Analytics.q12GlobalMetricsOn(t.events), // 1 row of tiles
    "top_parts" -> Analytics.q05TopPartsOn(t.lineitem, Tables.part(spark, sfDir)),
    "hourly_avg" -> Analytics.q06HourlyAvgOn(t.events),       // 24-row line chart
    "histogram" -> Analytics.q13HistogramOn(t.lineitem),      // ≤100 bins
    "payment_pie" -> Analytics.q15ValueCountsOn(t.events),    // ≤5 slices
    "heatmap" -> Analytics.q11HeatmapOn(t.events))            // ≤168 cells

  def writeFeed(df: DataFrame, path: String, format: String = "parquet"): Unit =
    df.coalesce(1).write.mode("overwrite").format(format).save(path)

  /** Materialize every feed under `outDir/<name>` (parquet) and
    * `outDir/<name>_json` (JSON lines) from explicit clean tables — the
    * Pipeline passes the tables it just staged, so the flow provably
    * serves from its own sink. The feeds are independent, so the six are
    * written CONCURRENTLY ([[graft.Concurrently]]; their bodies set no
    * session conf and swap no temp view). Each aggregate is still
    * computed ONCE: its parquet lands first, the JSON twin re-reads that
    * (tiny) file instead of re-running the scan-and-aggregate pipeline.
    * Returns after every feed has finished; the first failure is rethrown.
    */
  def writeAll(spark: SparkSession, sfDir: String, outDir: String, served: Served): Unit = {
    val fs = feeds(served, spark, sfDir)
    require(fs.keySet == feedNames.toSet, "feed inventory out of sync")
    graft.Concurrently.fork(fs.toSeq.map { case (name, df) =>
      () => {
        writeFeed(df, s"$outDir/$name")
        writeFeed(spark.read.parquet(s"$outDir/$name"), s"$outDir/${name}_json", "json")
      }
    }).join()
  }

  /** Standalone entry: serve from the canonical [[CleanStore]] staging
    * (materializing it on first use).
    */
  def writeAll(spark: SparkSession, sfDir: String, outDir: String): Unit =
    writeAll(spark, sfDir, outDir,
      Served(CleanStore.lineitem(spark, sfDir), CleanStore.events(spark, sfDir)))

  /** `runMain graft.operators.Feeds <sfDir> <outDir>` — the standalone
    * serve path as a CLI, used by the scale rehearsals to cross-check
    * Pipeline-staged feeds against feeds served from the independently
    * staged canonical CleanStore layer.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_feeds"
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    writeAll(spark, sfDir, outDir)
    println(s"feeds: $outDir")
    spark.stop()
  }
}

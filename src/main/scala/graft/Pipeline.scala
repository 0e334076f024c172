package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.{Analytics, CleanStore, Cleaning, Feeds, Params}
import graft.sources.{SchemaContract, Tables}

/** The reference's end-to-end batch flow (assignment1.ipynb Parts 1–3) as
  * ONE lazy lineage per stage: scan → validate → clean (with accounting) →
  * derive → clean-parquet sink → analytics → chart feeds. A user of the
  * reference switches by calling [[run]]; each stage is also usable alone
  * (the operators live in their own modules).
  *
  * The stages form a small job graph run on the caller's session: the
  * removal accounting rides on the lineitem sink's write (an `observe()`,
  * not a count job), the two clean sinks run concurrently, then the six
  * feeds run concurrently ([[Concurrently]]).
  *
  * `runMain graft.Pipeline <sfDir> <outDir>` executes the whole flow and
  * prints the removal accounting + feed locations.
  */
object Pipeline {

  /** Raw-side schema contract for the fact table (validate_data semantics,
    * assignment1.ipynb:70–79).
    */
  val lineitemContract: SchemaContract = SchemaContract(Seq(
    "l_orderkey" -> LongType,
    "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType,
    "l_returnflag" -> StringType,
    "l_shipdate" -> TimestampNTZType))

  final case class Result(
      cleanPath: String,
      accounting: Map[String, Long],
      feedDir: String)

  def run(spark: SparkSession, sfDir: String, outDir: String): Result = {
    // 1. scan + validate (fail fast, driver-side)
    val raw = lineitemContract.validate(Tables.lineitem(spark, sfDir))
    // 2. clean + derive, one lineage; the accounting is an observe() on
    //    that lineage, filled by the lineitem sink's own write (no count
    //    job). Derive body shared with the canonical CleanStore staging.
    val (cleaned, obs) = Cleaning.cleanWithAccounting(raw, Analytics.cleaningRules)
    val derived = CleanStore.deriveCleaned(cleaned)
    // 3. materialize the clean tables (the notebook's parquet sink,
    //    assignment1.ipynb:223), date-PARTITIONED (SURVEY §7.4(7)): the
    //    dashboard's F1 date-range filter then becomes partition pruning
    //    instead of a full scan — at 100 TB over ~7 years that is ~2.5k
    //    partitions of ~40 GB, the right file granularity. Write shape
    //    (repartition-on-partition-column) defined once in CleanStore.
    //    The two sinks are independent: the events sink runs on a helper
    //    thread while this thread writes lineitem, and both have finished
    //    (or failed) before anything below reads them.
    val cleanPath = s"$outDir/clean_lineitem"
    val cleanEventsPath = s"$outDir/clean_events"
    val events = CleanStore.cleanEvents(spark, sfDir)
    val eventsSink = Concurrently.fork(Seq(() => CleanStore.writeEvents(events, cleanEventsPath)))
    try CleanStore.writeLineitem(derived, cleanPath)
    catch { case e: Throwable => eventsSink.await().foreach(e.addSuppressed); throw e }
    eventsSink.join()
    // the lineitem write succeeded, so the observation is filled
    val counts = Cleaning.accounting(obs)
    // 4. chart feeds from the SAME operator bodies, served by RE-READING
    //    the tables just staged (app.py:97's pattern) — the feed scans hit
    //    the partitioned clean layer, never the raw corpus again; the six
    //    feeds are written concurrently. Both are read with the schema
    //    they were written with, so no read runs a schema-inference job.
    val feedDir = s"$outDir/feeds"
    Feeds.writeAll(spark, sfDir, feedDir,
      Feeds.Served(
        spark.read.schema(CleanStore.servedSchema(derived.schema, "ship_date")).parquet(cleanPath),
        spark.read.schema(CleanStore.servedSchema(events.schema, "event_date"))
          .parquet(cleanEventsPath)))
    Result(cleanPath, counts, feedDir)
  }

  /** `--params=tsLo,tsHi,hourLo,hourHi,type|type|...` ('T' stands in for
    * the timestamp space so the whole flag is one shell token; comma, not
    * semicolon — sbt's CLI splits commands on `;`), e.g.
    * `--params=2024-01-05T00:00:00,2024-01-20T00:00:00,6,18,view|click`.
    */
  private[graft] def parseParams(flag: String): Params.EventParams =
    flag.stripPrefix("--params=").split(',') match {
      case Array(lo, hi, h0, h1, types) =>
        Params.EventParams(
          lo.replace('T', ' '), hi.replace('T', ' '),
          h0.toInt, h1.toInt, types.split('|').toSeq)
      case other => throw new IllegalArgumentException(
        s"--params needs tsLo,tsHi,hourLo,hourHi,type|type, got ${other.length} fields")
    }

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val sfDir = if (positional.nonEmpty) positional(0) else "/root/testdata/sf0.001"
    val outDir = if (positional.length > 1) positional(1) else "/tmp/graft_pipeline"
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val res = run(spark, sfDir, outDir)
    println(s"clean table: ${res.cleanPath}")
    res.accounting.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-22s $v") }
    println(s"feeds: ${res.feedDir}")
    // the parameterized-server story (SURVEY §3.3) end-to-end: one widget
    // interaction = re-run the feed with user bounds; output is bounded by
    // the number of selected types, so the collect is feed-sized
    flags.filter(_.startsWith("--params=")).foreach { f =>
      val p = parseParams(f)
      println(s"parameterized refresh $p:")
      Params.typeSummary(graft.sources.Tables.events(spark, sfDir), p)
        .collect().foreach(r => println(s"  $r"))
    }
    spark.stop()
  }
}

package repobench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, to_date}

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.operators._
import graft.sources.Staging
import graft.streaming._

/** The measuring half of the benchmark: one JVM runs one workload against a
  * corpus directory and writes everything it saw as one JSON record. The
  * Python side (`run.py`) generates the corpus and the seeded inputs,
  * starts this program, checks the outputs and reduces the record to
  * metrics.
  *
  * Usage: `repobench.Main <workload> <dataDir> <inputsFile> <outFile>
  * <seconds> <trace 0|1> <warmup> <minWarm>`, run with the working
  * directory the engine may stage into (`target/` under it). Set-up counts
  * from JVM start until the workload is ready. The timed region holds one
  * cold op, `warmup` unmeasured ops, then at least `minWarm` warm ops of
  * each kind (untraced and, when tracing, traced), and lasts at least
  * `seconds`.
  */
object Main {

  final case class Op(kind: String, traced: Boolean, ms: Double, gcMs: Double,
      wall0: Long, wall1: Long, extra: String)

  private val ops = mutable.ArrayBuffer[Op]()
  private val tracer = new Tracer

  def main(args: Array[String]): Unit = {
    val Array(workload, data, inputsFile, outFile, secondsArg, traceArg, warmupArg,
      minWarmArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val inputs = Files.readAllLines(Paths.get(inputsFile)).asScala.toSeq.filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload(data)
      case "dashboard" => new DashboardWorkload(data, inputs)
      case "registry" => new RegistryWorkload(data, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: from JVM start until the workload is ready, staging included.
    val spark = GraftSession.build(cpus)
    w.stage(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val (setupStagingS, setupRebuilds) = Staging.drainRebuildLedger()

    // Timed region: one cold op, warm-up ops while the JIT settles, then
    // warm ops until the time is up. A traced run alternates untraced and
    // traced warm ops so the tracing overhead is measured against the same
    // process.
    if (trace) tracer.attach(spark)
    val tStart = System.nanoTime()
    timedOp(spark, w, "cold", traced = false)
    for (_ <- 0 until warmupArg.toInt) timedOp(spark, w, "warmup", traced = false)
    val (coldStagingS, coldRebuilds) = Staging.drainRebuildLedger()
    var warm = 0
    val minWarm = minWarmArg.toInt * (if (trace) 2 else 1)
    while ((System.nanoTime() - tStart) / 1e9 < seconds || warm < minWarm) {
      timedOp(spark, w, "warm", traced = trace && warm % 2 == 1)
      warm += 1
    }
    val (timedStagingS, timedRebuilds) = Staging.drainRebuildLedger()
    if (timedRebuilds > 0)
      System.err.println(s"[repobench] WARNING: $timedRebuilds staging rebuilds during warm ops")
    tracer.drain()
    val checks = w.finish(spark)

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${q(workload)},"cpus":${q(cpus)},"""
    json ++= s""""spark_version":${q(spark.version)},"java_version":${q(sys.props("java.version"))},"""
    json ++= s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},"""
    json ++= s""""setup_s":$setupS,"""
    json ++= s""""setup_staging_s":$setupStagingS,"setup_rebuilds":$setupRebuilds,"""
    json ++= s""""cold_staging_s":$coldStagingS,"cold_rebuilds":$coldRebuilds,"""
    json ++= s""""timed_staging_s":$timedStagingS,"timed_rebuilds":$timedRebuilds,"""
    json ++= s""""rss_hwm_kb":${vmHwmKb()},"""
    json ++= ops.map { o =>
      s"""{"kind":${q(o.kind)},"traced":${o.traced},"ms":${o.ms},"gc_ms":${o.gcMs},""" +
        s""""wall":[${o.wall0},${o.wall1}]${o.extra}}"""
    }.mkString(""""ops":[""", ",", "],")
    json ++= tracer.spans.map(s => s"[${s.id},${s.parent},${q(s.name)},${s.t0},${s.t1}]")
      .mkString(""""spans":[""", ",", "],")
    json ++= tracer.work.toSeq.sortBy(_._1).map { case (id, k) =>
      s""""$id":[${k.jobs},${k.stages},${k.tasks},${k.taskNanos},${k.shuffleRead},""" +
        s"""${k.shuffleWrite},${k.spill},${k.inputRecords},${k.outputBytes}]"""
    }.mkString(""""work":{""", ",", "},")
    json ++= tracer.progress.map { e =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val st = p.stateOperators
      // [trigger start ms, phase ms..., input rows, state rows, state bytes,
      //  state commit ms, run id]
      (Seq(java.time.Instant.parse(p.timestamp).toEpochMilli, d("latestOffset"),
        d("queryPlanning"), d("addBatch"), d("walCommit"), d("commitOffsets"),
        p.numInputRows, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum).map(_.toString) :+ q(p.runId.toString)).mkString("[", ",", "]")
    }.mkString(""""progress":[""", ",", "],")
    json ++= s""""checks":$checks}"""
    Files.writeString(Paths.get(outFile), json.toString)
    spark.stop()
  }

  private def timedOp(spark: SparkSession, w: Workload, kind: String, traced: Boolean): Unit = {
    tracer.tracing = traced
    val gc0 = gcMs()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // an op that throws is recorded as failed; the run goes on
    val extra = try tracer.span("op") { w.op(spark) } catch {
      case e: Exception =>
        System.err.println(s"[repobench] $kind op failed: $e")
        s""","error":${q(e.toString.take(500))}"""
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val gc = gcMs() - gc0
    tracer.tracing = false
    ops += Op(kind, traced, ms, gc, wall0, System.currentTimeMillis(), extra)
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def q(s: String): String = "\"" + GraftSession.jsonEscape(s) + "\""

  def rowJson(r: Row): String = r.toSeq.map {
    case null => "null"
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) q(d.toString) else d.toString
    case x => x.toString
  }.mkString("[", ",", "]")

  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  // ------------------------------------------------------------ workloads

  trait Workload {
    /** Stage what the workload's inputs need before the timed region. */
    def stage(spark: SparkSession): Unit
    /** One operation; returns extra JSON fields (",\"k\":v...") for the op record. */
    def op(spark: SparkSession): String
    /** After the timed region: write outputs to check; returns a JSON value. */
    def finish(spark: SparkSession): String
  }

  /** The pipeline layer a stack is in: the engine function `Pipeline.run`
    * is calling at the time (the frame just inside its own). Time in
    * `Pipeline.run` itself, or in a callee not named here, stays the op's
    * own time and lowers `trace.coverage`, so a change to `Pipeline.run`'s
    * stages shows there instead of being attributed silently.
    */
  def pipelineLayer(stack: Array[StackTraceElement]): Option[String] = {
    val i = stack.indexWhere(f => f.getClassName == "graft.Pipeline$" && f.getMethodName == "run")
    if (i <= 0) None
    else (stack(i - 1).getClassName.stripSuffix("$"), stack(i - 1).getMethodName) match {
      case (c, _) if c.startsWith("graft.sources.") => Some("sources.validate")
      case ("graft.operators.Cleaning", _) | ("graft.operators.CleanStore", "deriveCleaned") =>
        Some("cleaning.clean")
      case ("graft.operators.CleanStore", "writeLineitem") => Some("cleanstore.lineitem_write")
      case ("graft.operators.CleanStore", "cleanEvents" | "writeEvents") =>
        Some("cleanstore.events_write")
      // the feeds' inputs: re-reading the clean tables just written
      case (c, "read" | "parquet") if c.startsWith("org.apache.spark.sql.") => Some("feeds.write")
      case (c, _) if c.startsWith("graft.operators.Feeds") => Some("feeds.write")
      case _ => None
    }
  }

  /** One `Pipeline.run` per op. A traced op samples the calling thread's
    * stack, so each stage's time is that of `Pipeline.run` itself.
    */
  final class PipelineWorkload(data: String) extends Workload {
    val out = new File("pipeline_out").getAbsolutePath
    def stage(spark: SparkSession): Unit = ()

    def op(spark: SparkSession): String = {
      val accounting = tracer.sampled(pipelineLayer) { Pipeline.run(spark, data, out) }.accounting
      val acc = accounting.toSeq.sorted.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      s""","accounting":$acc"""
    }

    def finish(spark: SparkSession): String = {
      val written = Seq("clean_lineitem", "clean_events").map { d =>
        val fs = parquetFiles(new File(s"$out/$d"))
        s"""${q(d)}:[${fs.size},${fs.map(_.length).sum}]"""
      }.mkString("{", ",", "}")
      val oracles = Seq("q05_top_parts", "q06_hourly_avg", "q11_heatmap",
        "q12_global_metrics", "q13_histogram", "q15_value_counts")
        .map(n => s"${q(n)}:${q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
      s"""{"out":${q(out)},"files":$written,"oracles":$oracles,""" +
        s""""feeds":${Feeds.feedNames.map(q).mkString("[", ",", "]")}}"""
    }
  }

  /** One dashboard interaction per op: serve the clean events, prune to
    * the window's dates, filter by the widget state, collect five charts.
    * Interactions read their widget states from the seeded input list.
    */
  final class DashboardWorkload(data: String, inputs: Seq[String]) extends Workload {
    private val params = inputs.map { l =>
      val Array(lo, hi, h0, h1, types) = l.split('\t')
      Params.EventParams(lo, hi, h0.toInt, h1.toInt, types.split('|').toSeq)
    }
    private var next = 0
    private val summaries = mutable.ArrayBuffer[(Params.EventParams, Array[Row])]()

    def stage(spark: SparkSession): Unit = { CleanStore.events(spark, data); () }

    def op(spark: SparkSession): String = {
      val p = params(next % params.size)
      next += 1
      val clean = tracer.span("cleanstore.serve") { CleanStore.events(spark, data) }
      val charts = tracer.span("params.plan") {
        val pruned = clean.filter(col("event_date").between(
          to_date(lit(p.tsLo).cast("timestamp")), to_date(lit(p.tsHi).cast("timestamp"))))
        val f = Params.paramFilter(pruned, p)
        val cs = Seq(Params.typeSummary(pruned, p), Analytics.q12GlobalMetricsOn(f),
          Analytics.q06HourlyAvgOn(f), Analytics.q15ValueCountsOn(f), Analytics.q11HeatmapOn(f))
        cs.foreach(_.queryExecution.executedPlan)
        cs
      }
      val rows = tracer.span("params.exec") { charts.map(_.collect()) }
      summaries += ((p, rows.head))
      s""","matching":${rows.head.map(_.getLong(1)).sum}"""
    }

    def finish(spark: SparkSession): String =
      summaries.map { case (p, rows) =>
        val sql = Params.oracleSqlFor(p, CleanStore.EventCriticalCols.map(c => s"$c IS NOT NULL"))
        s"""{"sql":${q(sql)},"rows":${rows.map(rowJson).mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]")
  }

  /** One pass over a fixed registry slice per op, in the seeded order:
    * build each query with its registry function, then evaluate it fully.
    * The first pass writes each output to parquet for the check instead of
    * counting it, so no query runs a third time just to be checked.
    */
  final class RegistryWorkload(data: String, order: Seq[String]) extends Workload {
    private val modules: Seq[(String, Map[String, _])] = Seq(
      "dedup" -> Dedup.queries, "similarity" -> Similarity.queries,
      "textanalysis" -> TextAnalysis.queries, "graphs" -> Graphs.queries, "sql" -> Sql.queries,
      "streaming" -> (EventStreams.queries ++ Sessions.queries ++ MaterializedView.queries ++
        StreamDedup.queries ++ VectorIndexStream.queries))
    def moduleOf(name: String): String =
      modules.find(_._2.contains(name)).map(_._1).getOrElse("other")
    private val registry = SparkEntry.benchQueries
    private val outDir = new File("registry_out").getAbsolutePath
    private var passes = 0

    /** Nothing to stage: the first pass builds the engine's build-once
      * fixtures and indices, as a user's first query does.
      */
    def stage(spark: SparkSession): Unit = ()

    def op(spark: SparkSession): String = {
      val write = passes == 0
      passes += 1
      order.map { name =>
        val m = moduleOf(name)
        val t0 = System.nanoTime()
        val df = tracer.span(s"$m.build") { registry(name)(spark, data) }
        val t1 = System.nanoTime()
        val rows = tracer.span(s"$m.exec") {
          if (write) { df.write.mode("overwrite").parquet(s"$outDir/$name"); "null" }
          else df.queryExecution.toRdd.count().toString
        }
        val t2 = System.nanoTime()
        spark.catalog.clearCache()
        s"""[${q(name)},${q(m)},${(t1 - t0) / 1e6},${(t2 - t1) / 1e6},$rows]"""
      }.mkString(""","queries":[""", ",", "]")
    }

    def finish(spark: SparkSession): String =
      order.map { name =>
        s"""${q(name)}:{"module":${q(moduleOf(name))},"dir":${q(s"$outDir/$name")},""" +
          s""""oracle":${SparkEntry.oracleSql.get(name).map(q).getOrElse("null")}}"""
      }.mkString("{", ",", "}")
  }
}

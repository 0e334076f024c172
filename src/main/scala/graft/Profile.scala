package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Dev measurement tool (guide §1): decompose a registry query's wall time
  * into plan-construction vs execution, and count the Spark jobs / stages /
  * tasks it schedules — the fixed-overhead signal the bench totals hide.
  * `runMain graft.Profile <query> [query ...]` (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_PROFILE_RUNS default 3). Reports per run:
  * build (fn() return), exec (toRdd.count), jobs, stages, tasks, the
  * summed executor task time — so (wall − task_time/cores) exposes
  * scheduling/driver overhead — and the classes codegen compiled (a warm
  * run that compiles missed the generated-class cache). Not on any
  * driver path.
  */
object Profile {

  /** A stage's row label: the operation scopes of its RDDs, in RDD order,
    * e.g. `Exchange, WholeStageCodegen (2)`. AQE submits every stage from
    * one helper thread, so a stage's own name (its call site) reads
    * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:…` for
    * all of them. A stage with no scoped RDD keeps its name.
    */
  def stageLabel(info: StageInfo): String = {
    val scopes = info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
    if (scopes.isEmpty) info.name else scopes.mkString(", ")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "3").toInt
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val registry = SparkEntry.benchQueries
    // SPARK_GRAFT_PROFILE_STAGES=1 additionally prints a per-stage table
    // (task count, summed task time, GC time, [[stageLabel]]) after each run —
    // the decomposition needed to find WHICH stage burns CPU when the
    // totals say a query anti-scales (r19 verdict item 2: dd11's 32-core
    // task_time was 6x its 8-core value with identical output).
    val stageDetail = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    val stageRows =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String)]()
    val stageGc = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val stageTime = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        if (stageDetail) {
          val id = s.stageInfo.stageId
          stageRows.add((id, s.stageInfo.numTasks,
            Option(stageTime.get(id)).map(_.longValue).getOrElse(0L),
            Option(stageGc.get(id)).map(_.longValue).getOrElse(0L),
            stageLabel(s.stageInfo)))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          taskTimeMs += t.taskInfo.duration
          if (stageDetail) {
            stageTime.merge(t.stageId, t.taskInfo.duration, (a, b) => a + b)
            if (t.taskMetrics != null)
              stageGc.merge(t.stageId, t.taskMetrics.jvmGCTime, (a, b) => a + b)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // JVM warm pass (the Bench warmup contract)
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    args.foreach { name =>
      val fn = registry.getOrElse(name, sys.error(s"unknown query '$name'"))
      (0 until runs).foreach { i =>
        Thread.sleep(200) // let the async listener bus drain
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
        Thread.sleep(200) // drain before reading counters
        println(f"[profile] $name run$i build ${(t1 - t0) / 1e9}%.3fs " +
          f"exec ${(t2 - t1) / 1e9}%.3fs jobs $jobs%d stages $stages%d " +
          f"tasks $tasks%d task_time ${taskTimeMs / 1e3}%.2fs compiles $compiled%d")
        if (stageDetail) {
          import scala.jdk.CollectionConverters._
          stageRows.asScala.toSeq.sortBy(-_._3).take(15).foreach {
            case (id, n, ms, gc, site) =>
              println(f"[profile]   stage $id%4d tasks $n%4d " +
                f"task_time ${ms / 1e3}%7.2fs gc ${gc / 1e3}%6.2fs  $site")
          }
          stageRows.clear(); stageGc.clear(); stageTime.clear()
        }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}

package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM — the SAME conf
  * contract as every main (GraftSession is the single source of truth).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("4")
}

trait SparkFixture {
  lazy val spark: SparkSession = TestSpark.spark
  val sf001 = "/root/testdata/sf0.001"

  /** Classes whole-stage and expression codegen compiled while `body` ran. */
  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Jobs started while `body` runs. A marker job after it flushes the
    * listener bus, which delivers events in order.
    */
  def jobs(body: => Unit): Int = jobsSeen(body).size

  /** The (description, call site) of each job started while `body` runs;
    * the call site is the job's result-stage name, e.g.
    * `parquet at Tables.scala:224`.
    */
  def jobsSeen(body: => Unit): Seq[(String, String)] = {
    val marker = "sparkfixture-jobs-marker"
    val seen = new ConcurrentHashMap[Int, (String, String)]()
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.put(e.jobId, (
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""),
        e.stageInfos.maxBy(_.stageId).name))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (Option(seen.get(e.jobId)).exists(_._1 == marker)) markerDone.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener bus stalled")
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSeq.sortBy(_._1).map(_._2).filter(_._1 != marker)
  }
}

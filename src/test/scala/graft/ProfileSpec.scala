package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Profile`'s per-stage rows name what each stage runs. */
class ProfileSpec extends AnyFunSuite with SparkFixture {

  test("each AQE stage is labelled by its operators, not by the thread that submitted it") {
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val marker = "profilespec-marker"
    val done = new CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.add(e.stageInfo); ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) done.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(0, 2000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, TimeUnit.SECONDS), "listener bus stalled")
    } finally spark.sparkContext.removeSparkListener(listener)
    val labels = stages.asScala.toSeq.map(Profile.stageLabel)
    assert(labels.nonEmpty)
    assert(labels.forall(l => l.nonEmpty && !l.contains("CompletableFuture")), labels.toString)
    assert(labels.exists(_.contains("Exchange")), labels.toString)
    assert(labels.exists(_.contains("WholeStageCodegen")), labels.toString)
  }
}

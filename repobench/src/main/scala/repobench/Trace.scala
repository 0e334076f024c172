package repobench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around calls into the engine's public functions, plus the Spark
  * and streaming listeners that attribute jobs, stages, tasks and
  * micro-batches to the span that was open when the work was submitted.
  * Where the calls happen inside one engine function (`Pipeline.run`),
  * [[sampled]] reads the calling thread's stack instead and makes a span of
  * each run of samples inside the same callee.
  *
  * Everything is kept in memory and written once at the end of the run.
  * When tracing is off, [[span]] runs its body and records nothing; an
  * untraced run registers no listener at all.
  */
final case class Span(id: Int, parent: Int, name: String, t0: Long, var t1: Long = 0L)

final class Tracer {
  private val SpanKey = "repobench.span"

  /** Per-span Spark totals. */
  final class Work {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskNanos = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var inputRecords = 0L; var outputBytes = 0L
  }

  val spans = mutable.ArrayBuffer[Span]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _
  @volatile private var on = false
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L
  @volatile private var lastEvent = System.nanoTime()
  // Spark totals per job, and each job's span and submission time (nanoTime
  // clock); stages count against the job that last submitted them.
  private val jobWork = mutable.HashMap[Int, Work]()
  private val jobSpan = mutable.HashMap[Int, (Int, Long)]()
  private val stageJob = mutable.HashMap[Int, Int]()
  // Per sampled span: its samples' times and the span each sample fell in.
  private val sampledIn = mutable.HashMap[Int, (Array[Long], Array[Int])]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

  private def workOf(job: Int): Work = jobWork.getOrElseUpdate(job, new Work)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val submitted = System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L
      jobSpan(e.jobId) = (spanOf(e.properties), submitted)
      workOf(e.jobId).jobs += 1
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobsStarted += 1; lastEvent = System.nanoTime()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      workOf(stageJob.getOrElse(e.stageInfo.stageId, -1)).stages += 1
      lastEvent = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = workOf(stageJob.getOrElse(e.stageId, -1))
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskNanos += m.executorRunTime * 1000000L
        w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputRecords += m.inputMetrics.recordsRead
        w.outputBytes += m.outputMetrics.bytesWritten
      }
      lastEvent = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsEnded += 1; lastEvent = System.nanoTime()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e; lastEvent = System.nanoTime() }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the listeners on the session (once per traced run; they stay
    * until the session stops, and work outside any span is attributed to
    * span -1).
    */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Open or close span recording for the ops that follow. */
  def tracing_=(enabled: Boolean): Unit = {
    on = enabled
    if (!enabled && sc != null) sc.setLocalProperty(SpanKey, null)
  }

  def tracing: Boolean = on

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized {
        val id = spans.size
        spans += Span(id, stack.headOption.getOrElse(-1), name, System.nanoTime())
        id
      }
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        spans(id).t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Run `body` while a sampler thread reads this thread's stack every
    * `periodMs`. `layerOf` names the layer a stack is in (`None`: the open
    * span's own time); each run of samples in one layer becomes a span
    * under the open span, from its first sample to the next run's first.
    * A job submitted meanwhile belongs to the span of the first sample
    * taken at or after its submission: the thread waits inside the caller
    * while the job runs.
    */
  def sampled[T](layerOf: Array[StackTraceElement] => Option[String], periodMs: Long = 5L)(
      body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.getOrElse(-1)
      val target = Thread.currentThread()
      val times = mutable.ArrayBuffer[Long]()
      val layers = mutable.ArrayBuffer[Option[String]]()
      @volatile var running = true
      val sampler = new Thread(() =>
        while (running) {
          val t = System.nanoTime()
          val layer = layerOf(target.getStackTrace)
          times += t; layers += layer
          Thread.sleep(periodMs)
        }, "repobench-sampler")
      sampler.setDaemon(true)
      sampler.start()
      try body
      finally {
        running = false
        sampler.join()
        val end = System.nanoTime()
        synchronized {
          val in = new Array[Int](times.size)
          var i = 0
          while (i < times.size) {
            var j = i
            while (j < times.size && layers(j) == layers(i)) j += 1
            val id = layers(i) match {
              case Some(name) =>
                spans += Span(spans.size, parent, name, times(i), if (j < times.size) times(j) else end)
                spans.size - 1
              case None => parent
            }
            (i until j).foreach(in(_) = id)
            i = j
          }
          sampledIn(parent) = (times.toArray, in)
        }
      }
    }

  /** Spark totals per span. A job submitted under a sampled span counts
    * against the sampled child span it fell in.
    */
  def work: Map[Int, Work] = synchronized {
    val out = mutable.HashMap[Int, Work]()
    for ((job, w) <- jobWork) {
      val span = jobSpan.get(job).fold(-1) { case (s, t) =>
        sampledIn.get(s).fold(s) { case (times, in) =>
          val k = times.indexWhere(_ >= t)
          if (k >= 0) in(k) else if (in.nonEmpty) in.last else s
        }
      }
      val o = out.getOrElseUpdate(span, new Work)
      o.jobs += w.jobs; o.stages += w.stages; o.tasks += w.tasks
      o.taskNanos += w.taskNanos; o.shuffleRead += w.shuffleRead
      o.shuffleWrite += w.shuffleWrite; o.spill += w.spill
      o.inputRecords += w.inputRecords; o.outputBytes += w.outputBytes
    }
    out.toMap
  }

  /** Wait until the listener bus has delivered every job's end and has
    * been quiet for a moment (listener delivery is asynchronous).
    */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
        (jobsEnded < jobsStarted || System.nanoTime() - lastEvent < 300000000L))
      Thread.sleep(50)
  }
}

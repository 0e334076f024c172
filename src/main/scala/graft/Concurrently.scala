package graft

/** Independent stages of one composition, run as concurrent Spark jobs on
  * the caller's session. A driver that submits one write at a time leaves
  * the cores idle through every job's planning, commit and scheduling gaps;
  * submitting independent writes from several threads overlaps those gaps,
  * and Spark's scheduler still caps running tasks at the core count, so the
  * width here is just the number of independent stages.
  *
  * Each call starts a fresh set of daemon threads, one per task, from the
  * CALLING thread: Spark's local properties (job group, description, any
  * span id a tracer set) are inheritable thread-locals, so jobs submitted
  * by a task carry the caller's properties. Nothing is pooled across calls.
  */
object Concurrently {

  /** Name prefix of every thread this object starts. */
  val ThreadPrefix = "graft-stage-"

  /** Tasks started by [[fork]]; they run until [[await]] or [[join]]. */
  final class Forked private[Concurrently] (
      threads: Seq[Thread], failures: Array[Throwable]) {

    /** Waits for every task and returns their failures, in task order. */
    def await(): Seq[Throwable] = {
      threads.foreach(_.join())
      failures.toSeq.filter(_ != null)
    }

    /** [[await]], then rethrows the first failure as it was thrown. No
      * task is still running when this returns or throws.
      */
    def join(): Unit = await().headOption.foreach(e => throw e)
  }

  /** Starts one daemon thread per task and returns at once. */
  def fork(tasks: Seq[() => Unit]): Forked = {
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() => try task() catch { case e: Throwable => failures(i) = e },
        s"$ThreadPrefix$i")
      t.setDaemon(true)
      t.start()
      t
    }
    new Forked(threads, failures)
  }
}

package graft.util

import java.util.concurrent.atomic.AtomicInteger

/** The one way this engine runs Spark calls at once: the reference fans a
  * request's leaf searches out as tasks and awaits every one before it
  * merges (quickwit-search/src/leaf.rs:429-543, root.rs:652-669).
  *
  * Spark copies a thread's local properties (job group, scheduler pool,
  * job labels) into a new thread only when that thread is created, so
  * every thread that starts Spark jobs for a call is created by that call,
  * here, and never taken from a long-lived pool. */
object FanOut {

  /** Run `tasks` and return their results in task order. A lone task runs
    * on the calling thread; otherwise the tasks run on `min(width,
    * tasks.size)` threads named `threadName`, created for this call. Every
    * task runs to its end, even after another has failed; then the first
    * failure in task order is thrown with the later ones suppressed. The
    * call returns or throws only after its threads have ended; an
    * interrupt of the caller ends the wait early, and the threads end once
    * their tasks have. */
  def all[T](threadName: String, width: Int)(tasks: Seq[() => T]): Seq[T] = {
    require(width >= 1, s"fan-out width must be at least 1, got $width")
    if (tasks.size <= 1) return tasks.map(_())
    val settled = new Array[Either[Throwable, T]](tasks.size)
    val next = new AtomicInteger(0)
    val threads = Seq.fill(math.min(width, tasks.size))(new Thread(() => {
      var i = next.getAndIncrement()
      while (i < tasks.size) {
        settled(i) = try Right(tasks(i)()) catch { case e: Throwable => Left(e) }
        i = next.getAndIncrement()
      }
    }, threadName))
    threads.foreach { t => t.setDaemon(true); t.start() }
    threads.foreach(_.join())
    settled.toSeq.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => settled.toSeq.map(_.toOption.get)
    }
  }
}

package graft.util

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit, TimeoutException}

import scala.concurrent.duration.Duration

import org.apache.spark.{JobExecutionStatus, SparkContext}

/** Run independent driver-side tasks from a small thread pool, so each
  * task's Spark jobs back-fill the ramp/tail idle of the others — and
  * never let one outlive a failed fan-out.
  *
  * Every task's jobs carry one fresh job TAG (`sc.addJobTag`, with
  * interrupt-on-cancel), added on top of whatever tags and group the
  * caller's thread already set — pool threads inherit the caller's
  * local properties, and a tag, unlike `setJobGroup`, overwrites
  * none of them. On the first failure, or when `timeout` expires, the
  * fan-out cancels every job under its tag, interrupts the pool, waits
  * for the threads, and waits until no job under its tag is still
  * running before it rethrows: no sibling keeps writing after the
  * caller has seen the failure.
  */
object FanOut {

  /** Run `tasks` on `threads` threads; results come back in task
    * order. Rethrows the first task failure (unwrapped), or a
    * `TimeoutException` when `timeout` expires first. */
  def all[T](sc: SparkContext, threads: Int,
      timeout: Duration = Duration.Inf)(tasks: Seq[() => T]): Seq[T] = {
    val tag = s"graft-fanout-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    val done = new ExecutorCompletionService[T](pool)
    try {
      val futures = tasks.map { task =>
        done.submit { () =>
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          task()
        }
      }
      val deadline = System.nanoTime() + (
        if (timeout.isFinite) timeout.toNanos else Long.MaxValue / 2)
      try {
        futures.foreach { _ =>
          val next = done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
          if (next == null)
            throw new TimeoutException(s"fan-out of ${tasks.size} tasks timed out after $timeout")
          next.get()
        }
        futures.map(_.get())
      } catch { case t: Throwable =>
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        pool.awaitTermination(60, TimeUnit.SECONDS)
        settle(sc, tag)
        throw (t match {
          case e: ExecutionException if e.getCause != null => e.getCause
          case other => other
        })
      }
    } finally pool.shutdown()
  }

  /** Wait (bounded) until no job under `tag` is RUNNING. A task thread
    * can submit a job between the first cancel and its interrupt, so
    * the cancel repeats until the status store shows none left. */
  private def settle(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def running: Boolean = st.getJobIdsForTag(tag).exists(id =>
      st.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (running && System.nanoTime() < deadline) {
      sc.cancelJobsWithTag(tag)
      Thread.sleep(20)
    }
  }
}

package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Fork-join for a handful of independent driver-side tasks: concurrent
  * index deletes, partition moves, plan builds, verification aggregates.
  *
  * Each call uses a fresh pool of at most `min(width, tasks.size)` threads.
  * The worker threads are created by the calling thread, so they inherit
  * its Spark local properties (FAIR pool, job group, job description). A
  * single task runs on the calling thread.
  *
  * Failure discipline: every task settles before [[all]] returns or
  * throws, so no task is still changing a store while the caller unwinds.
  * The first failure in task order is rethrown as the task threw it; every
  * later failure is attached to it with `addSuppressed`, so a second
  * failing store is never dropped. Only the pool's `ExecutionException`
  * wrapper is caught. An interrupt of the waiting caller propagates and
  * interrupts the tasks still running.
  */
object Par {

  /** Run `tasks` at most `width` at a time; results in task order. */
  def all[T](tasks: Seq[() => T], width: Int = 8): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val pool = Executors.newFixedThreadPool(math.min(width, tasks.size))
      try {
        val futures = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
        val settled = futures.map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
        settled.collect { case Left(e) => e } match {
          case first +: rest =>
            rest.filter(_ ne first).foreach(first.addSuppressed)
            throw first
          case _ => settled.collect { case Right(v) => v }
        }
      } finally pool.shutdownNow()
    }
}

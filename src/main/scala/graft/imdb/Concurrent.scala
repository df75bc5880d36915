package graft.imdb

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Runs independent eager steps of a build phase (Spark actions that
  * each block the calling thread) at the same time, so the driver
  * submits their jobs together instead of one after another. Spark's
  * task slots still cap the concurrent tasks, so per-task memory is
  * what a sequential run uses.
  */
private[imdb] object Concurrent {

  /** The most steps one call runs at once: one per normalized table. */
  private val MaxThreads = 15

  /** Name prefix of the pool threads. */
  val ThreadPrefix = "pimdb-step-"

  private val threadIds = new AtomicInteger()

  /** Run `steps` on a pool created for this call, one thread per step
    * (at most [[MaxThreads]]), and return their results in step order.
    * Waits for EVERY step before rethrowing the first failure (in step
    * order), so no step still runs against state the caller cleans up;
    * the pool is shut down and its threads gone when this returns. */
  def all[T](steps: Seq[() => T]): Seq[T] = {
    val factory: ThreadFactory = r => {
      val t = new Thread(r, ThreadPrefix + threadIds.incrementAndGet())
      t.setDaemon(true)
      t
    }
    val pool = Executors.newFixedThreadPool(steps.size.min(MaxThreads), factory)
    try {
      val done = pool.invokeAll(steps.map(s => (() => s()): Callable[T]).asJava)
      done.asScala.toSeq.map { f =>
        try f.get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}

package graft.plans

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Driver-side concurrency for independent Spark actions (guide §2.6:
  * actions are only sequential because the driver calls them
  * sequentially; overlapping lets a tiny write's commit latency hide
  * under a big sibling job's tail, and many small jobs share the cores
  * instead of queueing behind each other's dispatch).
  */
object DriverPool {

  private val threadIds = new AtomicInteger()

  private val daemonThreads: ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, s"graft-driver-pool-${threadIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** Run `work` from a driver pool of at most the session's
    * `defaultParallelism` threads and return the results in `work`
    * order. Strictly for MUTUALLY INDEPENDENT work — distinct output
    * paths, no shared mutable state.
    *
    * Failure semantics: EVERY sibling settles before the first failure
    * (in `work` order) is rethrown, so no write outlives the call — a
    * thrown thunk must not leave a sibling overwrite racing a caller's
    * retry/rebuild or committing after the caller restored session
    * state. Each call owns its pool, so a thunk may itself call
    * awaitAll without starving its parent. Pool threads are created by
    * the calling thread and inherit its Spark local properties (job
    * group, description) at that moment; a thunk that changes one must
    * restore it, since the thread runs later thunks too. */
  private[graft] def awaitAll[T](spark: SparkSession, work: Seq[() => T]): Seq[T] =
    if (work.size <= 1) work.map(_())
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(work.size, spark.sparkContext.defaultParallelism), daemonThreads)
      try {
        val futures = work.map(w => pool.submit(new Callable[T] { def call(): T = w() }))
        futures.map(f => Try(f.get())).map {
          case Success(v) => v
          case Failure(e: ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
      } finally pool.shutdown()
    }
}

package graft.core

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Parallel map over a small driver-side collection (footer and header
  * reads, compaction rewrites): one short-lived pool of at most
  * `maxThreads` threads, results in input order, the first failure
  * rethrown. */
object Par {
  def map[A, B](xs: Seq[A], maxThreads: Int = 32)(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.min(maxThreads, math.max(1, xs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }
}

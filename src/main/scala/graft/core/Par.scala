package graft.core

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Parallel map over a small driver-side collection of metadata reads
  * (footers, header probes): one short-lived pool of at most 32 threads,
  * results in input order, the first failure rethrown. */
object Par {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.min(32, math.max(1, xs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }
}

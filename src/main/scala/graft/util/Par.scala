package graft.util

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

/** Concurrent Spark jobs from one driver (the materialize, append and
  * takedown fan-outs). Each body runs under `blocking`: the global pool's
  * parallelism is the core count, and Spark's job wait does not signal
  * `blocking` itself, so without it at most `cores` bodies are in flight
  * and the rest queue behind threads that only wait on the scheduler. */
object Par {
  def apply[A](body: => A): Future[A] = Future(blocking(body))(ExecutionContext.global)

  def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)

  /** Waits until every future has finished, then rethrows the first
    * failure: a caller that sees the error has no sibling job still
    * writing behind its back. */
  def awaitAll(fs: Future[_]*): Unit = {
    fs.foreach(Await.ready(_, Duration.Inf))
    fs.foreach(_.value.get.get)
  }
}

package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Concurrent driver jobs that settle together: each thunk runs on its own
  * thread, and every one is awaited, failed or not, before the call returns
  * or throws. The first failure in argument order is rethrown. So no Spark
  * job a call submitted outlives the call, even when a sibling failed first.
  */
object Settle {

  def all[T](thunks: Seq[() => T]): Seq[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = thunks.map(t => Future(t()))
    try fs.map(Await.result(_, Duration.Inf))
    finally fs.foreach(Await.ready(_, Duration.Inf))
  }

  def apply[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  def apply[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val Seq(x, y, z) = all[Any](Seq(() => a, () => b, () => c))
    (x.asInstanceOf[A], y.asInstanceOf[B], z.asInstanceOf[C])
  }
}

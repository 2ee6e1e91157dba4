package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

/** Independent Spark actions of one driver operation, run at once: at
  * micro-batch sizes the fixed cost of each job is the bill, so they
  * overlap instead of queueing.
  *
  * Every future runs under the SUBMITTING thread's Spark local
  * properties. Those are an InheritableThreadLocal, so a bare pool
  * thread keeps whatever its creating thread held: jobs it starts lose
  * the caller's job group (`StreamingQuery.stop()` cannot cancel them)
  * and carry a stale SQL execution id (listeners misattribute them).
  */
object Async {

  def apply[A](spark: SparkSession)(body: => A): Future[A] = {
    val sc = spark.sparkContext
    val props = GraftColumnBridge.localProperties(sc)
    Future(GraftColumnBridge.withLocalProperties(sc, props)(body))(ExecutionContext.global)
  }

  def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)

  def settle[A](f: Future[A]): Try[A] = Try(await(f))

  /** `a` and `b` concurrently. Both settle before a failure rethrows,
    * so no job outlives the exception; when both fail, `b`'s error is
    * attached to `a`'s as suppressed.
    */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val fa = Async(spark)(a)
    val fb = Async(spark)(b)
    val (ra, rb) = (settle(fa), settle(fb))
    (ra, rb) match {
      case (Failure(ea), Failure(eb)) if ea ne eb => ea.addSuppressed(eb)
      case _ => ()
    }
    (ra.get, rb.get)
  }
}

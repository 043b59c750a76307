package graft.util

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark jobs submitted at the same time from one driver
  * loop (a snapshot commit's table writes, the seen-shard growth beside
  * them).
  *
  * Each forked body runs on a thread of the scope's own pool with the
  * caller's active session and local properties (job group and
  * description, scheduler pool, any caller tags) captured at fork time,
  * via `SQLExecution.withThreadLocalCaptured`, which restores the
  * thread's own properties when the body returns. The pool lives only as
  * long as its scope, so no thread outlives the loop iteration that
  * forked it and none carries a stale `spark.sql.execution.id` into a
  * later commit. `scope` returns only once every fork has finished, also
  * when the body or a fork throws, so no job keeps running against
  * caches the caller releases next.
  */
object Parallel {

  final class Fork[T] private[Parallel] (f: CompletableFuture[T]) {
    /** Wait for the body; rethrows its failure unwrapped. */
    def join(): T =
      try f.get()
      catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
    private[Parallel] def await(): Unit =
      try f.get() catch { case _: ExecutionException => () }
  }

  final class Scope private[Parallel] (spark: SparkSession) {
    private[Parallel] val pool = Executors.newCachedThreadPool()
    private[Parallel] val forks = mutable.ArrayBuffer.empty[Fork[_]]

    def fork[T](body: => T): Fork[T] = {
      val f = new Fork(SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body))
      forks += f
      f
    }
  }

  def scope[T](body: Scope => T)(implicit spark: SparkSession): T = {
    val s = new Scope(spark)
    try body(s)
    finally {
      s.forks.foreach(_.await())
      s.pool.shutdown()
    }
  }
}

package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors, Future, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** One wave of independent driver-side work: thunks that each launch
  * their own Spark jobs and read nothing another one writes, run
  * concurrently so their jobs share the executor's task slots instead
  * of queueing behind each other. Each wave gets its own pool of at
  * most [[MaxThreads]] threads, shut down when the wave ends.
  *
  * Each worker runs as the caller would:
  *  - with `spark` as its active session, so session confs the caller
  *    set (e.g. [[graft.DailyEtl]]'s interpreted window) apply to it;
  *  - inside the caller's open [[CheckpointBlocks.scoped]] blocks, so
  *    a [[CheckpointBlocks.local]] checkpoint a worker takes is freed
  *    when the caller's scope closes.
  *
  * [[run]] waits for every member before it returns or throws, so no
  * worker is still running (or writing) once the caller sees a
  * failure, and the pool's threads have exited by then too.
  *
  * Callers initialise the objects a wave touches on their own thread
  * first: two threads entering a cycle of cross-referencing object
  * initialisers from opposite ends deadlock (see
  * [[graft.queries.Stages.resolveAllConcurrently]]). */
private[graft] object Wave {

  /** The most threads one wave runs on. */
  val MaxThreads = 8

  private val threadIds = new AtomicInteger(0)

  /** Runs every thunk, concurrently, and returns their results in
    * order. If any throws, the first failure in thunk order is
    * rethrown, once every member has finished, with the later failures
    * attached as suppressed. */
  def run[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    val scopes = CheckpointBlocks.openScopes
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(MaxThreads, thunks.size)), daemonThreads)
    try {
      val futures: Seq[Future[T]] = thunks.map { thunk =>
        pool.submit(new Callable[T] {
          def call(): T = {
            SparkSession.setActiveSession(spark)
            try CheckpointBlocks.withScopes(scopes)(thunk())
            finally SparkSession.clearActiveSession()
          }
        })
      }
      val outcomes = futures.map(outcome)
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private val daemonThreads: ThreadFactory = { r =>
    val t = new Thread(r, s"graft-wave-${threadIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** `f`'s result or failure, waiting through interrupts (the
    * caller's interrupt status is restored afterwards): a member must
    * never outlive the wave. */
  private def outcome[T](f: Future[T]): Either[Throwable, T] = {
    var interrupted = false
    var result: Option[Either[Throwable, T]] = None
    while (result.isEmpty)
      try result = Some(Right(f.get()))
      catch {
        case e: ExecutionException => result = Some(Left(e.getCause))
        case _: InterruptedException => interrupted = true
      }
    if (interrupted) Thread.currentThread().interrupt()
    result.get
  }
}

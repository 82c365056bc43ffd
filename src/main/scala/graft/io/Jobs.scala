package graft.io

import java.util.concurrent.{CancellationException, ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try
import scala.util.control.NonFatal

/** The one concurrency primitive: run independent Spark actions as
  * CONCURRENT jobs on the shared session.
  * Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. For a group of independent writes (delta segments,
  * compaction folds, derived-CDM staging, per-table ETL work) each job's
  * tail leaves most of local[N] idle; submitting them from a bounded pool
  * lets the next job's tasks back-fill the freed slots.
  *
  * Every pool in the engine comes from here, and every entry point
  * SETTLES before it returns: when a task fails, tasks that have not
  * started yet are skipped, tasks already running are waited for, and
  * only then does the first failure escape. A fail-fast await would
  * return with sibling zone writes still in flight, letting a caller that
  * catches and continues race them.
  *
  * `GRAFT_JOBS_MAXPAR` caps every pool on the same binary (`1` serializes
  * [[concurrently]] groups — the clean A/B for these overlaps, and an
  * escape hatch for memory-tight deployments).
  */
object Jobs {
  /** A cap from its raw setting: a positive integer, else `default`. */
  def parseCap(raw: Option[String], default: Int): Int =
    raw.flatMap(v => Try(v.trim.toInt).toOption).filter(_ >= 1).getOrElse(default)

  private def cap(default: Int): Int = parseCap(sys.env.get("GRAFT_JOBS_MAXPAR"), default)

  /** Run the thunks as concurrent jobs, at most `maxParallel` at a time,
    * and return their results in input order. One thunk, or a cap of 1,
    * runs inline on the caller's thread.
    */
  def concurrently[T](thunks: Seq[() => T], maxParallel: Int = 8): Seq[T] = {
    val threads = math.min(cap(maxParallel), thunks.size)
    if (threads <= 1) thunks.map(_.apply())
    else settled(threads)(g => g.after(thunks.map(t => g.start(t())))(identity))
  }

  /** Tasks of one [[gated]] scope. A task never blocks a pool thread on
    * another task: its gates are future callbacks, so a one-thread pool
    * cannot starve.
    */
  final class Gates private[Jobs] (implicit ec: ExecutionContext) {
    private[Jobs] val tasks = new ConcurrentLinkedQueue[Future[_]]()
    private[Jobs] val failure = new AtomicReference[Throwable]()

    /** Run `body` with the results of `deps` once every one of them has
      * succeeded; a failed dep fails this task without running it.
      */
    def after[A, T](deps: Seq[Future[A]])(body: Seq[A] => T): Future[T] = {
      val f = Future.sequence(deps).map { vs =>
        if (failure.get != null) throw new CancellationException("a sibling task failed")
        try body(vs) catch {
          case e: Throwable =>
            failure.compareAndSet(null, e)
            // a future never completes on a fatal error: wrap it so the
            // scope still settles (the original is what escapes)
            throw (if (NonFatal(e)) e else new ExecutionException(e))
        }
      }
      tasks.add(f)
      f
    }

    def start[T](body: => T): Future[T] = after(Seq.empty[Future[Unit]])(_ => body)
  }

  /** A scoped pool of `maxParallel` threads for tasks gated on other
    * tasks. Returns `body`'s result once every task of the scope has
    * settled, or rethrows the first task failure.
    */
  def gated[R](maxParallel: Int)(body: Gates => Future[R]): R =
    settled(cap(math.max(1, maxParallel)))(body)

  private def settled[R](threads: Int)(body: Gates => Future[R]): R = {
    val pool = Executors.newFixedThreadPool(threads)
    val g = new Gates()(ExecutionContext.fromExecutorService(pool))
    try {
      val result = Try(body(g))
      result.failed.foreach(e => g.failure.compareAndSet(null, e))
      // a running task may add tasks: drain until none is left
      Iterator.continually(g.tasks.poll()).takeWhile(_ != null)
        .foreach(Await.ready(_, Duration.Inf))
      Option(g.failure.get).foreach(throw _)
      Await.result(result.get, Duration.Inf)
    } finally pool.shutdown()
  }
}

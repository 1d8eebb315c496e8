package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}

import scala.util.{Failure, Success, Try}

/** Runs one DAG stage's independent builds concurrently and joins once,
  * the way the reference's Airflow task graphs run parallel branches.
  * Each build is typically a parquet write, often a single-task job, so
  * submitting them together lets Spark's scheduler fill the idle
  * `local[N]` slots. The slots already bound CPU use, which is why there
  * is no pool-size setting: a build beyond the free slots simply queues
  * in the scheduler.
  */
private[pipeline] object FanOut {

  /** More threads than this only queue more jobs on the same slots. */
  private val MaxThreads = 8

  /** Runs every task, waits for all of them, and returns their results in
    * submission order. The pool is created per call: its threads are
    * started from the calling thread, so they inherit Spark's inheritable
    * local properties (job group, description, scheduler pool) and a
    * `cancelJobGroup` on the caller's group reaches every task's jobs.
    *
    * If tasks fail, every sibling still runs to its end before this
    * throws, so no task is left writing after the call returns; then the
    * first failure in submission order is rethrown as it was thrown.
    */
  def all[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, MaxThreads)))
    try {
      val futures = tasks.toVector.map(t => pool.submit(new Callable[A] {
        def call(): A = t()
      }))
      futures.map(await).map(_.get)
    } finally pool.shutdown()
  }

  /** The task's outcome, waiting through interrupts of the caller (which
    * are restored afterwards) so that a task never outlives the call.
    */
  private def await[A](f: Future[A]): Try[A] = {
    var interrupted = false
    try {
      var out: Option[Try[A]] = None
      while (out.isEmpty) {
        out = try Some(Success(f.get())) catch {
          case e: ExecutionException => Some(Failure(e.getCause))
          case _: InterruptedException => interrupted = true; None
        }
      }
      out.get
    } finally if (interrupted) Thread.currentThread().interrupt()
  }
}

package graft.spark

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

/** The driver's one way to run independent Spark actions concurrently.
  * Spark schedules concurrent jobs fine; on small inputs overlapping them
  * hides each job's fixed cost (planning + scheduling), on a cluster it
  * backfills one job's straggler tail with the next job's tasks.
  */
object DriverJobs {

  /** Run `jobs` with at most `limit` in flight and return their results
    * in order. Every job settles before the first failure (in `jobs`
    * order) is rethrown, so no straggler still holds cores or writes
    * output when the caller sees the error. With `limit <= 1` (or a
    * single job) the jobs run in order on the calling thread and the
    * first failure stops the sequence: nothing else is in flight.
    */
  def run[A](limit: Int, jobs: Seq[() => A]): Seq[A] =
    if (limit <= 1 || jobs.length <= 1) jobs.map(_())
    else {
      val pool = Executors.newFixedThreadPool(math.min(limit, jobs.length))
      try {
        val futures = jobs.map(j => pool.submit(new Callable[A] { def call(): A = j() }))
        val settled = futures.map(f => Try(f.get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        })
        settled.collectFirst { case Failure(t) => t }.foreach(t => throw t)
        settled.map(_.get)
      } finally pool.shutdown()
    }
}

package graft.ext

import org.apache.spark.sql.SparkSession

/** Concurrent driver actions for INDEPENDENT sub-jobs of one gate
  * (optimization guide §2.6 "overlap independent jobs"): Spark's
  * scheduler runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially, so a gate that eagerly materializes several
  * independent frames (exact pass / routed pass / ground-truth pass)
  * can submit them from a small pool and let the later jobs' tasks
  * back-fill executors freed by the earlier jobs' tails. FIFO
  * scheduling keeps the first job prioritized — exactly the
  * back-fill behavior wanted.
  *
  * Build the DataFrames SEQUENTIALLY first, then hand only the
  * ACTIONS (localCheckpoint(true), count, ...) to [[run]]: actions on
  * already-constructed Datasets are thread-safe; concurrent plan
  * CONSTRUCTION against one session is not worth auditing.
  */
object Par {

  /** Run the thunks concurrently, return results in order. The first
    * failing thunk's cause propagates as soon as it fails: the other
    * thunks are interrupted and their Spark jobs cancelled, so a failed
    * gate does not keep the executors busy with work nobody will read.
    * Degenerate sizes run inline.
    *
    * The jobs are marked with a per-call job TAG, never a job group:
    * the pool threads inherit the caller's local properties, and
    * overwriting its job group would break the per-group CPU
    * attribution callers key on.
    */
  def run[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def cancelJobs(): Unit = sc.foreach(_.cancelJobsWithTag(tag))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
      try {
        val futs = thunks.map { t =>
          done.submit(new java.util.concurrent.Callable[A] {
            def call(): A = {
              sc.foreach(_.addJobTag(tag))
              // a job submitted after the first failure's cancel sweep
              // (the thunk was still planning) is cancelled on the way out
              try t() finally if (failed.get) cancelJobs()
            }
          })
        }
        thunks.foreach { _ =>
          try done.take().get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              failed.set(true)
              futs.foreach(_.cancel(true))
              cancelJobs()
              throw e.getCause
          }
        }
        futs.map(_.get())
      } finally pool.shutdownNow()
    }
  }
}

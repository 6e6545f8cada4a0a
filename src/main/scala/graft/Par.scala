package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import org.apache.spark.sql.SparkSession

/** Run INDEPENDENT Spark actions concurrently from a bounded driver
  * pool — the guide's overlap-independent-jobs pattern (§2.6): Spark's
  * scheduler happily runs several jobs at once inside one application,
  * and actions are only sequential because driver code calls them
  * sequentially. The index sinks write 2–5 independent relations per
  * call; issuing those writes concurrently lets each job's tasks
  * back-fill the slots freed by the others' straggler tails instead of
  * paying every job's full scheduling latency end-to-end. Shared
  * tracked caches stay safe under concurrency: the BlockManager's
  * per-block locks make the first computing task store the partition
  * and the racing ones wait for it, so a cached intermediate is still
  * computed once.
  */
object Par {
  /** Execute the thunks concurrently; block until all complete.
    * On the first failure the siblings' Spark jobs are cancelled and,
    * once every thunk has ended, that failure is rethrown — no sibling
    * write outlives the call. Jobs are marked with a per-call job TAG,
    * not a job group: a tag adds to the caller's (inherited) job group,
    * so a streaming query's stop() still cancels them. */
  def jobs(thunks: (() => Unit)*): Unit = {
    if (thunks.lengthCompare(1) <= 0) { thunks.foreach(_.apply()); return }
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(thunks.size)
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      thunks.foreach(t => done.submit(() => {
        sc.addJobTag(tag)
        try t() finally sc.removeJobTag(tag)
      }))
      var first: Throwable = null
      var pending = thunks.size
      while (pending > 0) {
        val f = if (first == null) done.take() else {
          // re-cancel until the siblings end: one may start its next
          // job after an earlier cancel
          sc.cancelJobsWithTag(tag)
          done.poll(50, TimeUnit.MILLISECONDS)
        }
        if (f != null) {
          pending -= 1
          try f.get()
          catch {
            case e: ExecutionException =>
              if (first == null) first = Option(e.getCause).getOrElse(e)
          }
        }
      }
      if (first != null) throw first
    } finally pool.shutdown()
  }
}

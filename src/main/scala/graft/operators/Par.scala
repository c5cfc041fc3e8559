package graft.operators

/** Driver-side overlap of INDEPENDENT Spark actions (optimization
  * guide §2.6: Spark's scheduler happily runs several jobs at once
  * inside one application; actions are sequential only because driver
  * code calls them sequentially). Used where a composed operator
  * performs several writes/appends that share no data dependency and
  * target disjoint directories — e.g. [[graft.Pipeline.refreshCorpus]]'s
  * per-family index appends, or one index family's two bucketed
  * datasets. The later job's tasks back-fill executors freed by the
  * earlier job's stragglers, and at bench scale the many fixed
  * per-action floors (planning, codegen, commit) overlap instead of
  * summing.
  *
  * Semantics vs the sequential original: each task is the SAME
  * idempotent write it was, targeting its own directory; a failure in
  * one no longer prevents the others from completing, which is a state
  * the crash contract already covers (partial family appends re-run to
  * completion; retried appends leave exact-duplicate rows that probes
  * collapse). All tasks are awaited; the first failure is rethrown
  * after every task has settled (never a dangling in-flight write).
  *
  * USAGE CONTRACT — no shared un-materialized frame instances: two
  * tasks must not both consume the SAME lazily-derived DataFrame
  * object whose tree carries expressions with mutable evaluation
  * state (higher-order-function lambda variables, stateful custom
  * expressions). When the source is a local relation, each task's
  * plan optimization constant-folds those SHARED expression instances
  * on the driver concurrently (ConvertToLocalRelation), and the race
  * corrupts the folded rows — observed as garbage shingle hashes in
  * the containment index writer (r20). Either materialize the shared
  * frame first ([[Barriers.barrier]] — what the index writers do) or
  * have each task build its own tree from the raw input.
  */
object Par {

  /** Run `tasks` concurrently on a bounded pool, awaiting ALL of them;
    * rethrows the first failure (suppressing the rest). Empty and
    * single-task inputs run inline. `parallelism` bounds driver-side
    * concurrency — 3-4 in-flight jobs is enough to fill a stage tail
    * without starving any one job of executors (guide §2.6).
    *
    * An interrupt of the calling thread cancels the tasks that have not
    * started (they never will), keeps awaiting the in-flight ones, then
    * rethrows: a task failure if one occurred, else an
    * InterruptedException, with the thread's interrupt flag set again.
    */
  def run(parallelism: Int)(tasks: Seq[() => Unit]): Unit = {
    require(parallelism > 0, s"parallelism must be > 0, got $parallelism")
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, tasks.size))
    try {
      // a task's start and its cancellation race for the same flag, so a
      // task either runs to the end or never starts
      val claimed = tasks.map(_ => new java.util.concurrent.atomic
        .AtomicBoolean(false))
      val futures = tasks.zip(claimed).map { case (t, c) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = if (c.compareAndSet(false, true)) t()
        })
      }
      var failure: Throwable = null
      var interrupted = false
      def record(t: Throwable): Unit =
        if (failure == null) failure = t else failure.addSuppressed(t)
      futures.foreach { f =>
        var settled = false
        while (!settled) {
          try { f.get(); settled = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              record(if (e.getCause != null) e.getCause else e)
              settled = true
            case e: java.util.concurrent.CancellationException =>
              if (!interrupted) record(e)
              settled = true
            case _: InterruptedException =>
              // the scaladoc's no-dangling-write promise: an interrupt
              // must NOT abandon in-flight writes on live pool threads
              // — cancel what has not started, keep awaiting the rest,
              // re-assert the flag after every task has settled
              interrupted = true
              futures.zip(claimed).foreach { case (g, c) =>
                if (c.compareAndSet(false, true)) g.cancel(false) }
          }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      if (failure != null) throw failure
      if (interrupted) throw new InterruptedException(
        "Par.run interrupted (unstarted tasks were cancelled, in-flight " +
          "ones awaited)")
    } finally pool.shutdown()
  }
}

package graft.api

/** Run INDEPENDENT Spark actions concurrently from the driver
  * (optimization guide §2.6 "overlap independent jobs"): Spark's
  * scheduler happily runs several jobs at once — actions are only
  * sequential because driver code calls them sequentially. The index
  * writers use this for their independent output tables (postings +
  * contributions, codes + vectors, edges + vertices): the second
  * table's tasks back-fill executors freed by the first table's tail
  * instead of waiting for it, locally collapsing two serial job
  * chains' fixed latencies into one. Correctness is unaffected —
  * the thunks write DIFFERENT paths and any shared upstream
  * cache/checkpoint is block-locked per partition by Spark itself
  * (concurrent first-materialization is safe).
  *
  * The first failure propagates with its ORIGINAL exception (not the
  * pool's ExecutionException wrapper), so callers' error contracts
  * are unchanged; remaining thunks are awaited (a Spark write is not
  * safely cancellable mid-commit). That holds for an interrupt of the
  * calling thread too: the wait resumes until every thunk is done,
  * then the first failure (the InterruptedException, unless a thunk
  * failed before it) is rethrown with the interrupt flag set again.
  */
private[graft] object Par {
  def run(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) thunks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = t()
          })
        }
        var firstFailure: Throwable = null
        var interrupted = false
        def fail(e: Throwable): Unit =
          if (firstFailure == null) firstFailure = e
        futs.foreach { f =>
          var done = false
          while (!done) {
            try { f.get(); done = true }
            catch {
              case e: java.util.concurrent.ExecutionException =>
                fail(e.getCause); done = true
              case e: java.util.concurrent.CancellationException =>
                fail(e); done = true
              // get() cleared the flag, so the retry blocks again
              case e: InterruptedException =>
                fail(e); interrupted = true
            }
          }
        }
        if (interrupted) Thread.currentThread().interrupt()
        if (firstFailure != null) throw firstFailure
      } finally { pool.shutdown(); () }
    }
  }
}

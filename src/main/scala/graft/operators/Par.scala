package graft.operators

import org.apache.spark.sql.SparkSession

/** Run INDEPENDENT Spark actions concurrently from the driver — the
  * overlap-independent-jobs discipline: Spark's scheduler happily runs
  * several jobs at once inside one application, and actions are only
  * sequential because driver code calls them sequentially. The
  * multi-table index lifecycles (TextIndex/AnnIndex build, segment
  * commit, purge merge) are chains of 4–6 independent write jobs; run
  * back-to-back, each job's scheduling latency, commit protocol and
  * task tail leave the executors idle between jobs. Submitting the
  * independent chains from a small thread pool lets the next job's
  * tasks back-fill executors freed by the current job's tail — a win
  * on a real cluster (tail back-fill) and locally (the fixed per-job
  * cost of small maintenance jobs overlaps instead of summing).
  *
  * Semantics callers rely on:
  *  - every task is awaited before return OR throw — on failure no
  *    concurrent writer is still running when the caller invalidates
  *    an artifact (the addSegment/addVectors torn-commit discipline);
  *  - the FIRST failure is rethrown (others are suppressed onto it);
  *  - a fresh pool per call, threads inherit the calling thread's
  *    inheritable locals, so job descriptions/groups stay attached;
  *  - the Spark jobs a call's tasks submit carry a per-call job tag,
  *    and the FIRST interrupt of the caller cancels them (a hung job is
  *    torn down instead of waited on forever), then the await-all
  *    contract holds as above. The call rethrows an
  *    `InterruptedException` with those cancellations suppressed onto
  *    it; a genuine task failure still wins, with the interrupt
  *    suppressed onto it. A tag, not a job group: the group would
  *    overwrite the caller's own.
  *
  * Tear-detection note: callers that depend on a lockstep-validation
  * ORDER (e.g. TextIndex.addSegment's doclen-first / corpus-last
  * bracket) keep those two anchors sequential and only parallelize
  * the independent middle — see the call sites.
  */
private[graft] object Par {
  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.isEmpty) return
    if (tasks.length == 1) { tasks.head(); return }
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    // a failure whose cause chain names the tag is this call's own
    // cancellation, not a task failure
    def cancelled(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null && c.getMessage.contains(tag))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { sc.foreach(_.addJobTag(tag)); t() }
        })
      }
      var err: Throwable = null
      val cancels = Seq.newBuilder[Throwable]
      var interrupted = false
      futs.foreach { f =>
        // an interrupt of the CALLING thread must not break the
        // await-all contract: the pool threads run on, so returning
        // early would let a still-live writer race the caller's
        // invalidate(). Remember the interrupt, keep awaiting every
        // future, and restore the flag before rethrowing (the
        // round-15 advisor finding).
        var done = false
        while (!done) {
          try { f.get(); done = true } catch {
            case e: java.util.concurrent.ExecutionException =>
              val c = if (e.getCause != null) e.getCause else e
              if (interrupted && cancelled(c)) cancels += c
              else if (err == null) err = c else err.addSuppressed(c)
              done = true
            case _: InterruptedException =>
              // a failed cancel (e.g. a stopped context) must not break
              // the await-all loop — it rides on the InterruptedException
              if (!interrupted)
                try sc.foreach(_.cancelJobsWithTag(tag,
                  s"Par.run caller interrupted ($tag)"))
                catch { case scala.util.control.NonFatal(e) => cancels += e }
              interrupted = true
          }
        }
      }
      if (interrupted) {
        Thread.currentThread().interrupt()
        val ie = new InterruptedException(
          "interrupted while awaiting Par tasks (all tasks completed)")
        cancels.result().foreach(ie.addSuppressed)
        if (err == null) err = ie else err.addSuppressed(ie)
      }
      if (err != null) throw err
    } finally { pool.shutdownNow(); () }
  }
}

package graft

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.operators.Par

/** Failure semantics of the driver-side job-overlap mechanism
  * (operators.Par) — the contract the index lifecycles lean on:
  * addSegment/addVectors call invalidate() after Par.run throws, which
  * is only safe if NO task is still running at that point (a straggler
  * writer would append into an artifact the caller just invalidated).
  */
class ParSpec extends SparkSpec {

  test("a failing task does not rethrow until every other task finished") {
    val slowDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Par.run(
        () => throw boom,
        () => { Thread.sleep(250); slowDone.set(true) },
        () => { Thread.sleep(150); () })
    }
    assert(thrown eq boom)
    // the rethrow happened only after the slow writer completed — the
    // invalidate-never-races-a-live-writer guarantee
    assert(slowDone.get())
  }

  test("first failure (task order) is rethrown, later ones suppressed") {
    val a = new IllegalStateException("first-by-task-order")
    val b = new IllegalArgumentException("second")
    val bThrown = new CountDownLatch(1)
    val thrown = intercept[IllegalStateException] {
      Par.run(
        // task 0 fails LAST chronologically but first in task order —
        // the contract is deterministic on task order, not racy on
        // wall-clock order
        () => { bThrown.await(); Thread.sleep(50); throw a },
        () => { try throw b finally bThrown.countDown() })
    }
    assert(thrown eq a)
    assert(thrown.getSuppressed.toSeq.contains(b))
  }

  /** Interrupt `t` while every task is in flight — all `inFlight`
    * tasks have started and wait on `release` — and open `release`
    * only once the caller has taken the interrupt (its flag cleared
    * by the await), so no task can finish before it lands. */
  private def interruptInFlight(t: Thread, inFlight: CountDownLatch,
                                release: CountDownLatch): Unit = {
    assert(inFlight.await(10, TimeUnit.SECONDS), "tasks never started")
    t.interrupt()
    while (t.isInterrupted) Thread.onSpinWait()
    release.countDown()
  }

  test("interrupting the caller still awaits every task (flag restored)") {
    val done = (0 until 3).map(_ => new AtomicBoolean(false))
    val inFlight = new CountDownLatch(3)
    val release = new CountDownLatch(1)
    def task(i: Int): () => Unit = () => {
      inFlight.countDown()
      release.await()
      done(i).set(true)
    }
    @volatile var caught: Throwable = null
    @volatile var flagRestored = false
    val t = new Thread(() => {
      try Par.run(task(0), task(1), task(2))
      catch { case e: Throwable => caught = e }
      flagRestored = Thread.currentThread().isInterrupted
    })
    t.start()
    interruptInFlight(t, inFlight, release)
    t.join(10000)
    assert(!t.isAlive)
    // every task ran to completion despite the caller's interrupt —
    // the round-15 advisor hole (early return with live writers)
    assert(done.forall(_.get()))
    assert(caught != null && caught.isInstanceOf[InterruptedException])
    assert(flagRestored, "interrupt status must be restored before rethrow")
  }

  test("task failure wins over a concurrent caller interrupt") {
    val boom = new IllegalStateException("boom")
    val slowDone = new AtomicBoolean(false)
    val inFlight = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    @volatile var caught: Throwable = null
    val t = new Thread(() => {
      try Par.run(
        () => { inFlight.countDown(); release.await(); throw boom },
        () => { inFlight.countDown(); release.await(); slowDone.set(true) })
      catch { case e: Throwable => caught = e }
    })
    t.start()
    interruptInFlight(t, inFlight, release)
    t.join(10000)
    assert(!t.isAlive)
    assert(slowDone.get())
    // the task's failure is the primary error; the interrupt is
    // attached as suppressed, not lost
    assert(caught eq boom)
    assert(caught.getSuppressed.exists(_.isInstanceOf[InterruptedException]))
  }

  test("a caller interrupt cancels the call's Spark jobs; their cancellation rides on the InterruptedException") {
    val sc = spark.sparkContext
    ParSpecGate.reset()
    val otherDone = new AtomicBoolean(false)
    @volatile var caught: Throwable = null
    val t = new Thread(() => {
      try Par.run(
        // a job whose only task blocks until the test opens the gate:
        // without the cancel, Par.run would wait on it forever
        () => sc.parallelize(Seq(1), 1).foreach { _ =>
          ParSpecGate.started.countDown()
          ParSpecGate.release.await()
        },
        () => otherDone.set(true))
      catch { case e: Throwable => caught = e }
    })
    t.start()
    try {
      assert(ParSpecGate.started.await(60, TimeUnit.SECONDS),
        "the blocking job never started")
      t.interrupt()
      t.join(60000)
      assert(!t.isAlive, "Par.run must return once its job is cancelled")
    } finally ParSpecGate.release.countDown() // frees the executor thread
    assert(otherDone.get())
    assert(caught.isInstanceOf[InterruptedException], s"caught: $caught")
    assert(caught.getSuppressed.exists(e =>
        e.isInstanceOf[org.apache.spark.SparkException] &&
          e.getMessage.contains("cancelled")),
      s"the job's cancellation must be suppressed onto the interrupt: " +
        caught.getSuppressed.toSeq)
  }

  test("job descriptions/groups (inheritable locals) reach the pool threads") {
    val sc = spark.sparkContext
    sc.setJobDescription("par-spec-desc")
    try {
      @volatile var seen: String = null
      Par.run(
        () => { seen = sc.getLocalProperty("spark.job.description") },
        () => ())
      assert(seen == "par-spec-desc")
    } finally sc.setJobDescription(null)
  }
}

/** Latches a Spark task reaches by static reference — in local mode the
  * executor runs in this JVM, so the task and the test share them. */
object ParSpecGate {
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def reset(): Unit = {
    started = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
}

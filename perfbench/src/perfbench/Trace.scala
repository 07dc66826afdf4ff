package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around every layer call, and a `SparkListener` that charges
  * each Spark job, task, CPU second, GC second, shuffle byte and
  * spilled byte to the innermost open span of the thread that
  * submitted it.
  *
  * Attribution rides on a Spark local property: `span` sets
  * `perfbench.span` on the calling thread, Spark copies local
  * properties into every job the thread (or a thread it spawns, such
  * as the library's `Par.run` pool) submits, and the listener reads it
  * back from `onJobStart`. Spans are kept in memory and written out by
  * [[writeSpans]] at the end of the run.
  *
  * When tracing is off, [[span]] only runs its body: no listener, no
  * local property, no record. */
final class Trace(sc: SparkContext) {
  import Trace._

  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer[Span]()
  private val current = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val names = new ConcurrentHashMap[Long, String]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val acc = new ConcurrentHashMap[String, Acc]()
  @volatile private var total = new Acc

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Prop))).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageSpan.put(s, sid))
      total.synchronized(total.jobs += 1)
      layerAcc(sid).foreach(a => a.synchronized(a.jobs += 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val sid = stageSpan.getOrDefault(e.stageId, -1L)
      (Some(total) ++ layerAcc(sid)).foreach(_.add(m))
      val times = stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
      times.synchronized(times += m.executorRunTime)
    }
  }

  /** The layer a span id belongs to: the span itself when it is a
    * layer span, else nothing (work outside layer calls only counts
    * in the run totals). */
  private def layerAcc(sid: Long): Option[Acc] =
    Option(names.get(sid)).filter(_.contains('.'))
      .map(n => acc.computeIfAbsent(n, _ => new Acc))

  /** Attach the listener; run totals and stage skew restart here,
    * layer accounting carries on across restarts. */
  def start(): Unit = if (!on) {
    total = new Acc
    stageTasks.clear()
    sc.addSparkListener(listener)
    on = true
  }

  /** Detach the listener after the bus has delivered every event. */
  def stop(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  /** Run `f` as span `name` of operation `run`, nested in the
    * thread's open span. */
  def span[T](name: String, run: Long)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get().headOption.getOrElse(0L)
      names.put(id, name)
      val prev = sc.getLocalProperty(Prop)
      current.set(id :: current.get())
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Prop, prev)
        current.set(current.get().tail)
        spans.synchronized(spans += Span(id, name, parent, run, t0, t1))
      }
    }

  /** Per-call metrics of every finished span named like a layer call
    * (`Layer.fn`): median wall, and jobs, tasks, executor CPU and
    * shuffle-write per call. */
  def layerMetrics(): Map[String, LayerStats] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val byName = spans.synchronized(spans.toList).filter(_.name.contains('.'))
      .groupBy(_.name)
    byName.map { case (n, ss) =>
      val a = Option(acc.get(n)).getOrElse(new Acc)
      val calls = ss.length.toDouble
      n -> LayerStats(Stats.median(ss.map(s => (s.end - s.start) / 1e6)),
        a.jobs / calls, a.tasks / calls, a.cpuNs / 1e9 / calls,
        a.shuffleW / 1048576.0 / calls)
    }
  }

  /** Run-wide Spark counters since [[start]]. */
  def totals: Acc = { org.apache.spark.PerfbenchBus.drain(sc); total }

  /** max ÷ median task run time in the stage with the largest summed
    * task time. */
  def skew(): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    import scala.jdk.CollectionConverters._
    val stages = stageTasks.asScala.values.map(b => b.synchronized(b.toVector))
      .filter(_.nonEmpty)
    if (stages.isEmpty) 1.0
    else {
      val slow = stages.maxBy(_.sum)
      val med = Stats.median(slow.map(_.toDouble))
      slow.max / math.max(med, 1.0)
    }
  }

  /** All spans as JSON lines: name, start/end (ns, monotonic), parent
    * span id (0 = none) and the operation (run) id. */
  def writeSpans(path: String): Int = {
    val ss = spans.synchronized(spans.toList).sortBy(_.start)
    val t0 = ss.headOption.map(_.start).getOrElse(0L)
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try ss.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run":${s.run},"start_ns":${s.start - t0},"end_ns":${s.end - t0}}""")
      w.newLine()
    } finally w.close()
    ss.length
  }
}

object Trace {
  val Prop = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, run: Long,
                        start: Long, end: Long)

  final case class LayerStats(wallMs: Double, jobs: Double,
                              tasks: Double, cpuS: Double, shuffleWMb: Double)

  final class Acc {
    var jobs, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleW, spill = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

package graft

/** Ad-hoc profiling entry: run named queries (cold + warm) against a
  * scale dir and print wall times; `explain` flag dumps the formatted
  * physical plan; `jobs` flag additionally prints ONE LINE PER SPARK
  * JOB (wall ms, task count, first line of the job's callsite) during
  * the warm run — the attribution tool for multi-job operators
  * (index builds, purge lifecycles) where a single wall number says
  * nothing about WHERE the time went. Usage:
  *   runMain graft.Prof <sfDir> [explain] [jobs] q1 q2 ...
  */
object Prof {

  /** Per-job wall-time printer. Registered only under the `jobs`
    * flag — dev-only attribution, never part of a measured bench. */
  private final class JobTimer extends org.apache.spark.scheduler.SparkListener {
    private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    @volatile var enabled = false
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val site = Option(js.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      val nTasks = js.stageInfos.map(_.numTasks).sum
      t0.put(js.jobId, (System.nanoTime(), site, nTasks))
      ()
    }
    override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val rec = t0.remove(je.jobId)
      if (enabled && rec != null) {
        val (t, site, nTasks) = rec
        val ms = (System.nanoTime() - t) / 1e6
        if (ms >= 20.0)
          System.err.println(f"[prof-job] ${ms}%8.0f ms  ${nTasks}%4d tasks  job=${je.jobId}%-4d $site")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    var rest = args.drop(1).toSeq
    val explain = rest.headOption.contains("explain")
    if (explain) rest = rest.drop(1)
    val jobs = rest.headOption.contains("jobs")
    if (jobs) rest = rest.drop(1)
    val names = rest
    val spark = Session.local()
    val timer = new JobTimer
    if (jobs) spark.sparkContext.addSparkListener(timer)
    Tables.names.foreach { t =>
      Tables(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    }
    names.foreach { q =>
      if (explain) SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      for (run <- Seq("cold", "warm")) {
        // attribute jobs on the warm run only: the cold run's JIT/
        // first-touch noise would mislabel the steady-state hot spots
        timer.enabled = jobs && run == "warm"
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        timer.enabled = false
        Bench.isolate(spark)
        println(f"[prof] $q $run ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}

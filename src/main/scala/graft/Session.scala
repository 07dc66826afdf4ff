package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs in: `local[cpus]` with the
  * shuffle parallelism set to the same cpus (the width
  * [[graft.operators.Pairs.wide]] pins to), UTC as the session time
  * zone so time-bucketed queries do not follow the box's zone, the UI
  * off and WARN logging. `cpus` is `SPARK_GRAFT_CPUS` when set, else
  * the JVM's available processors. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

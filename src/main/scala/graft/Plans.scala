package graft

/** Dev tool: dump formatted physical plans for selected queries so the
  * shuffle/pushdown/broadcast/codegen posture can be audited
  * (`sbt "runMain graft.Plans [query ...]"`). */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("denorm_docs", "a1_agg", "p5_range_filter", "w2_topk",
        "f1_scored_search", "d4_jaccard_pairs", "n1_knn_brute")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import graft.operators.{Dedup, EventOps, Similarity}

/** Plan shape of the pairwise family's pair join under AQE, read from
  * the final adaptive plan after the query ran: the pair join is a
  * sort-merge join (no broadcast of a pair side), a self-join's keyed
  * side is evaluated once (one exchange, reused for the other side),
  * and the join stage runs on the pinned partition count (the
  * session's shuffle width, or blocks² tiles) rather than on what
  * AQE's byte-based coalescing would leave. */
class PairsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // a width the suite's default (4) and AQE coalescing cannot produce
  // by accident on these inputs
  private val Width = 7

  private def finalPlan(df: => DataFrame): SparkPlan = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, Width.toString)
    try {
      val d = df
      d.collect()
      d.queryExecution.executedPlan
    } finally spark.conf.set(key, old)
  }

  private def keyNames(ks: Seq[Expression]): Seq[String] =
    ks.map { case a: Attribute => a.name; case e => e.sql }

  /** The exchange that feeds one join side: the first shuffle or
    * reused exchange below it (through sorts, AQE readers, stages). */
  private def sideExchange(side: SparkPlan): SparkPlan =
    collectFirst(side) {
      case r: ReusedExchangeExec => r
      case s: ShuffleExchangeLike => s
    }.getOrElse(fail(s"no exchange under\n$side"))

  private def checkPairJoin(plan: SparkPlan, keys: Seq[String],
                            parts: Int, selfJoin: Boolean): Unit = {
    val smj = collect(plan) {
      case j: SortMergeJoinExec if keyNames(j.leftKeys) == keys => j
    }
    val hashed = collect(plan) {
      case j: HashJoin if keyNames(j.leftKeys) == keys => j
    }
    assert(smj.size == 1 && hashed.isEmpty,
      s"pair join on $keys is not one sort-merge join:\n$plan")
    val j = smj.head
    assert(collect(j) { case b: BroadcastExchangeLike => b }.isEmpty,
      s"a pair side is broadcast:\n$j")
    val sides = Seq(sideExchange(j.left), sideExchange(j.right))
    val reused = sides.count(_.isInstanceOf[ReusedExchangeExec])
    if (selfJoin)
      assert(reused == 1, s"keyed side evaluated ${2 - reused} times:\n$j")
    else
      assert(reused == 0, s"distinct sides share an exchange?\n$j")
    // the pinned exchange feeds the join directly: no second shuffle
    // (which AQE would coalesce) sits between the pin and the join
    val origins = sides.map {
      case r: ReusedExchangeExec => r.child
      case s => s
    }.collect { case s: ShuffleExchangeLike => s.shuffleOrigin }
    assert(origins == Seq(REPARTITION_BY_NUM, REPARTITION_BY_NUM),
      s"a side is re-shuffled after its pin:\n$j")
    assert(j.left.outputPartitioning.numPartitions == parts &&
      j.right.outputPartitioning.numPartitions == parts,
      s"join stage not on $parts partitions:\n$j")
  }

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("minhash band join: pinned sort-merge self-join, signatures once") {
    checkPairJoin(finalPlan(Dedup.minhashPairs(docs)),
      Seq("band", "bucket"), Width, selfJoin = true)
  }

  test("simhash band join: pinned sort-merge self-join, signatures once") {
    checkPairJoin(finalPlan(Dedup.simhashPairs(docs)),
      Seq("band", "bucket"), Width, selfJoin = true)
  }

  test("tiled cosine: one sort-merge join on blocks² tile partitions") {
    // the a-role and b-role sides key the tile space differently
    // (ti = own block vs tj = own block), so there is no shared
    // exchange to reuse; each side is exchanged exactly once
    checkPairJoin(
      finalPlan(Similarity.cosinePairsBlocked(emb, 0.4, blocks = 3)),
      Seq("ti", "tj"), 9, selfJoin = false)
  }

  test("overlap join: pinned sort-merge self-join, sessions once") {
    checkPairJoin(finalPlan(EventOps.overlapJoin(Tables.events(spark, sf))),
      Seq("hb"), Width, selfJoin = true)
  }

  test("semDedup: pinned sort-merge in-cluster self-join, vectors once") {
    checkPairJoin(finalPlan(Similarity.semDedup(emb)),
      Seq("cl"), Width, selfJoin = true)
  }
}

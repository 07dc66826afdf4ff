package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The plan policy of a keyed pair join — the one place that decides
  * how the pairwise family (MinHash, SimHash, posting-bucket Jaccard,
  * tiled cosine, SemDeDup, interval overlap) and the denorm child
  * aggregation plan their byte-light, CPU-heavy shuffles.
  *
  * AQE coalesces shuffle partitions by BYTE size, which is exactly
  * wrong for a shuffle whose rows are small but whose reduce side does
  * quadratic or per-group work (a band bucket, a posting bucket, a
  * tile, an hour bucket, an order's child array): measured at sf0.1
  * it fused the d5 tile join into ONE task, ran the j17 pair stage on
  * 2 of 32 cores and the denorm collect_list stage on 3. An explicit
  * numPartitions is AQE-exempt, and a following groupBy or join on the
  * same keys reuses the partitioning — no extra exchange.
  *
  * Callers keep everything else: scoring, the `id_a < id_b` ordering,
  * and whether to verify before or after the candidate dedup. */
object Pairs {

  /** Hash-partition `df` on `keys` into the session's configured
    * shuffle parallelism — the cluster-sized knob, never a local
    * constant. */
  def wide(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartition(width(df), keys.map(col): _*)

  /** Equi-join `l` and `r` on the same-named `keys` (a USING join) at
    * [[wide]]'s width. */
  def join(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    join(l, r, keys, width(l))

  /** Equi-join `l` and `r` on `keys` with both sides hash-partitioned
    * into `n` partitions and the join held to sort-merge. `n` is the
    * unit of work when it is not the cluster width (cosinePairsBlocked's
    * tiles). A self-join passes the same frame twice (aliased, to tell
    * the sides apart): both sides are then the identical exchange and
    * exchange reuse evaluates the keyed side ONCE, where a broadcast
    * plan re-runs it inside the BroadcastExchange and lets one side
    * outgrow memory at scale. */
  def join(l: DataFrame, r: DataFrame, keys: Seq[String], n: Int): DataFrame =
    l.repartition(n, keys.map(col): _*).hint("merge")
      .join(r.repartition(n, keys.map(col): _*), keys)

  /** The session's shuffle parallelism — the only read of
    * `spark.sql.shuffle.partitions` under `operators/`. */
  private def width(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
}

package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The seeded input generator: the normalized tables the denorm reads,
  * the text and vector corpora with planted duplicates, the
  * replica-scaled corpus and the events, plus the document, vector and
  * random-stream helpers the workloads draw their batches, probes and
  * query terms with. The same seed gives the same inputs.
  *
  * Sizes are fixed constants (below), so two seeds give corpora of the
  * same shape and size; the seed changes content only. */
object Gen {

  /** Base-corpus sizes (maintain's set-up; curate replicates them). */
  val Docs = 1600          // organic documents
  val TextTwins = 32       // planted exact copies (new doc id, same text)
  val TextNears = 32       // planted near copies (one word appended)
  val Vocab = 2500         // distinct vocabulary words
  val Vecs = 800           // organic vectors
  val VecTwins = 24        // planted near-identical vectors
  val Dim = 64
  val Labels = 10
  val Orders = 1600
  val ItemsPerOrder = 4    // mean; 1..7 per order
  val Customers = 300
  val Parts = 400
  val Suppliers = 60
  val Nations = 25
  val EventUsers = 300     // organic users per replica
  val EventPlanted = 6     // planted user pairs with long overlapping sessions

  /** Replica count of curate's scaled corpus. */
  val Replicas = 3

  /** Vector ids start here so a vector id never equals a doc id. */
  val VecBase = 1000000L

  final case class Corpus(dir: String, docs: Long, distinctTexts: Long,
                          vecs: Long, orders: Long,
                          textPairs: Seq[(Long, Long)],
                          twinPairs: Seq[(Long, Long)],
                          vecPairs: Seq[(Long, Long)],
                          domains: Seq[String],
                          plainDocs: IndexedSeq[Long],
                          plainVecs: IndexedSeq[Long],
                          vecRows: IndexedSeq[(Long, Array[Float], Int)],
                          vocab: IndexedSeq[String],
                          zipf: Zipf,
                          centres: Array[Array[Double]],
                          inputBytes: Long)

  /** Deterministic child stream `i` of `seed`. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  private def word(r: SplittableRandom): String = {
    val n = 3 + r.nextInt(6)
    val sb = new StringBuilder
    // never starts with the marker prefix "qx"
    sb += ('a' + r.nextInt(16)).toChar
    for (_ <- 1 until n) sb += ('a' + r.nextInt(26)).toChar
    sb.toString
  }

  /** The vocabulary, ordered by Zipf rank. */
  def vocabulary(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 1)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < Vocab) seen += word(r)
    seen.toIndexedSeq
  }

  /** Zipf(1) sampler over ranks 0 until n (inverse CDF on a table). */
  final class Zipf(n: Int, s: Double = 1.0) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A letters-only token unique to `id` — what a read-after-write or
    * delete-visibility query looks for. Letters only, so the replica
    * tagging below rewrites it like any other word. */
  def marker(id: Long): String = {
    val sb = new StringBuilder("qx")
    var v = id
    do { sb += ('a' + (v % 26).toInt).toChar; v /= 26 } while (v > 0)
    sb.toString
  }

  def text(r: SplittableRandom, vocab: IndexedSeq[String], zipf: Zipf,
           id: Long): String = {
    val n = 30 + r.nextInt(50)
    val ws = Array.fill(n)(vocab(zipf.draw(r)))
    ws(r.nextInt(n)) = marker(id)
    ws.mkString(" ")
  }

  def vector(r: SplittableRandom, centre: Array[Double]): Array[Float] =
    centre.map(c => (c + r.nextGaussian()).toFloat)

  def centres(seed: Long): Array[Array[Double]] = {
    val r = rng(seed, 2)
    Array.fill(Labels)(Array.fill(Dim)(r.nextGaussian() * 0.8))
  }

  def nearTwin(r: SplittableRandom, v: Array[Float]): Array[Float] =
    v.map(x => (x + r.nextGaussian() * 0.01).toFloat)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def docsFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t) =>
        Row(id, t, "en", s"src${id % 5}", t.length.toLong)
      }, 4), docSchema)

  def vecsFrame(spark: SparkSession,
                rows: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v, l) =>
        Row(id, v.toSeq, l)
      }, 4), vecSchema)

  /** The base corpus, written as parquet under `dir`: documents and
    * embeddings, plus (when `relational`) the normalized tables the
    * denorm reads. */
  def base(spark: SparkSession, seed: Long, dir: String,
           relational: Boolean): Corpus = {
    import spark.implicits._
    val vocab = vocabulary(seed)
    val zipf = new Zipf(Vocab)
    val r = rng(seed, 3)

    // documents, with planted exact and near copies
    val organic = (0L until Docs.toLong).map(id => id -> text(r, vocab, zipf, id))
    val srcIdx = {
      val picks = scala.collection.mutable.LinkedHashSet[Int]()
      while (picks.size < TextTwins + TextNears) picks += r.nextInt(Docs)
      picks.toIndexedSeq
    }
    val twinPairs = srcIdx.take(TextTwins).zipWithIndex.map { case (s, i) =>
      (s.toLong, Docs.toLong + i) }
    val nearPairs = srcIdx.drop(TextTwins).zipWithIndex.map { case (s, i) =>
      (s.toLong, Docs.toLong + TextTwins + i) }
    val copies = twinPairs.map { case (s, id) => id -> organic(s.toInt)._2 } ++
      nearPairs.map { case (s, id) =>
        id -> (organic(s.toInt)._2 + " " + vocab(r.nextInt(Vocab))) }
    val allDocs = organic ++ copies
    docsFrame(spark, allDocs).write.parquet(s"$dir/documents.parquet")
    val planted = srcIdx.map(_.toLong).toSet
    val plainDocs = (0L until Docs.toLong).filterNot(planted)

    // embeddings around label centres, with planted near twins
    val cs = centres(seed)
    val vr = rng(seed, 4)
    val vecs = (0 until Vecs).map { i =>
      val l = vr.nextInt(Labels)
      (VecBase + i, vector(vr, cs(l)), l)
    }
    val vSrc = {
      val picks = scala.collection.mutable.LinkedHashSet[Int]()
      while (picks.size < VecTwins) picks += vr.nextInt(Vecs)
      picks.toIndexedSeq
    }
    val vTwins = vSrc.zipWithIndex.map { case (s, i) =>
      val (id, v, l) = vecs(s)
      (VecBase + Vecs + i, nearTwin(vr, v), l) -> (id, VecBase + Vecs + i)
    }
    vecsFrame(spark, vecs ++ vTwins.map(_._1))
      .write.parquet(s"$dir/embeddings.parquet")
    val vPlanted = vSrc.map(s => vecs(s)._1).toSet
    val plainVecs = vecs.map(_._1).filterNot(vPlanted)

    // the denorm's normalized tables (TPC-H-shaped star schema)
    val domains = (0 until Nations).map(i => s"${vocab(i * 7 % Vocab)} nation")
    if (relational) {
      val tr = rng(seed, 5)
      domains.zipWithIndex.map { case (n, i) => (i, n, i % 5) }
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .write.parquet(s"$dir/nation.parquet")
      (0 until Suppliers).map(i => (i.toLong, f"Supplier#$i%09d",
          tr.nextInt(Nations), math.round(tr.nextDouble() * 10000) / 100.0))
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.parquet(s"$dir/supplier.parquet")
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      (0 until Customers).map(i => (i.toLong, f"Customer#$i%09d",
          tr.nextInt(Nations), math.round(tr.nextDouble() * 500000) / 100.0 - 999.0,
          segs(tr.nextInt(segs.length))))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.parquet(s"$dir/customer.parquet")
      val types = Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO")
      (0 until Parts).map(i => (i.toLong,
          s"${vocab(tr.nextInt(200))} ${vocab(tr.nextInt(200))}",
          s"Brand#${1 + tr.nextInt(25)}", types(tr.nextInt(types.length)),
          1 + tr.nextInt(50), 900.0 + i / 10.0))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        .write.parquet(s"$dir/part.parquet")
      val t0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
      val day = 86400000L
      val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      (0 until Orders).map(i => (i.toLong, tr.nextInt(Customers).toLong,
          Seq("F", "O", "P")(tr.nextInt(3)),
          math.round(tr.nextDouble() * 50000000) / 100.0,
          new Timestamp(t0 + tr.nextInt(2500) * day), prio(tr.nextInt(5))))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .write.parquet(s"$dir/orders.parquet")
      val items = (0 until Orders).flatMap { o =>
        (1 to 1 + tr.nextInt(2 * ItemsPerOrder - 1)).map { ln =>
          val q = 1 + tr.nextInt(50)
          (o.toLong, tr.nextInt(Parts).toLong, tr.nextInt(Suppliers).toLong, ln,
            q.toDouble, math.round(q * (900 + tr.nextInt(1100)) * 100.0) / 100.0,
            tr.nextInt(11) / 100.0, tr.nextInt(9) / 100.0,
            Seq("A", "N", "R")(tr.nextInt(3)), Seq("F", "O")(tr.nextInt(2)),
            new Timestamp(t0 + tr.nextInt(2600) * day))
        }
      }
      items.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .repartition(4).write.parquet(s"$dir/lineitem.parquet")
    }

    Corpus(dir, allDocs.length.toLong, (Docs + TextNears).toLong,
      (Vecs + VecTwins).toLong, if (relational) Orders.toLong else 0L,
      twinPairs ++ nearPairs, twinPairs,
      vTwins.map(_._2), domains, plainDocs, plainVecs, vecs, vocab, zipf, cs,
      dirBytes(dir))
  }

  /** Events at replica scale, generated directly (not replicated: a
    * replica with identical timestamps would overlap its source user
    * as much as a planted pair does). Organic users hold one or two
    * short sessions; planted pairs share one long session each, in
    * time windows disjoint from every other planted pair, so they are
    * exactly the top-`EventPlanted` user pairs by overlap. */
  def events(spark: SparkSession, seed: Long, users: Int,
             dir: String): Seq[(Long, Long)] = {
    import spark.implicits._
    val r = rng(seed, 6)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val minute = 60000L
    val span = EventPlanted * 24 * 60 // minutes
    val kinds = Seq("view", "click", "purchase", "signup", "error")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for (u <- 0 until users; _ <- 0 to r.nextInt(2)) {
      var t = r.nextInt(span).toLong
      for (_ <- 0 until 2 + r.nextInt(4)) {
        buf += ((u.toLong, t0 + t * minute + r.nextInt(60000)))
        t += 3 + r.nextInt(15)
      }
    }
    // planted pair p: users right after the organic ones, one session
    // each of an event every 12-16 minutes for 16 hours on day p
    val pairs = (0 until EventPlanted).map(p => (users + 2L * p, users + 2L * p + 1))
    for (((a, b), p) <- pairs.zipWithIndex; u <- Seq(a, b); m <- 0 until 16 * 60 by 12)
      buf += ((u, t0 + (p * 24 * 60 + 60 + m + r.nextInt(5)) * minute))
    buf.toSeq.zipWithIndex.map { case ((u, ts), i) =>
      (i.toLong, new Timestamp(ts), u, kinds(i % kinds.length),
        (i % 1000) / 10.0, s"""{"k": ${i % 97}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.parquet(s"$dir/events.parquet")
    pairs
  }

  /** Seed-chosen replica tags: a distinct letters-only word prefix for
    * every replica k >= 1 (replica 0 is the base, untagged). */
  def tags(seed: Long, replicas: Int): IndexedSeq[String] = {
    val r = rng(seed, 7)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < replicas - 1)
      seen += "z" + (0 until 3).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    "" +: seen.toIndexedSeq
  }

  /** Seed-chosen orthogonal transform per replica: a coordinate
    * permutation and a sign mask (identity for replica 0). It keeps
    * every within-replica dot product, so the replica has the base's
    * geometry, while the same vector in two replicas is near
    * orthogonal. */
  def transforms(seed: Long, replicas: Int): IndexedSeq[(Array[Int], Array[Float])] = {
    val r = rng(seed, 8)
    (0 until replicas).map { k =>
      if (k == 0) ((0 until Dim).toArray, Array.fill(Dim)(1f))
      else {
        val perm = (0 until Dim).toArray
        for (i <- Dim - 1 to 1 by -1) {
          val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
        }
        (perm, Array.fill(Dim)(if (r.nextBoolean()) 1f else -1f))
      }
    }
  }

  /** The replica-scaled text and vector corpus: `replicas`
    * de-correlated copies of the base documents and embeddings with id
    * offsets. Words of replica k carry its seed-chosen tag, so token
    * streams are disjoint across replicas; vectors go through the
    * replica's orthogonal transform. Planted pairs are replicated with
    * their ids. */
  def scaled(spark: SparkSession, seed: Long, b: Corpus, replicas: Int,
             dir: String): Corpus = {
    val ks = spark.range(replicas).toDF("__k")
    val k = col("__k")
    def expand(t: String): DataFrame =
      spark.read.parquet(s"${b.dir}/$t.parquet").crossJoin(broadcast(ks))
    def write(t: String, df: DataFrame): Unit =
      df.drop("__k").repartition(4).write.parquet(s"$dir/$t.parquet")
    val tg = tags(seed, replicas)
    val tagCol = element_at(typedLit(tg.toArray), (k + 1).cast("int"))
    val oS = 1000000L
    write("documents", expand("documents")
      .withColumn("doc_id", col("doc_id") + k * oS)
      .withColumn("text", regexp_replace(col("text"), lit("(\\p{L}+)"),
        concat(tagCol, lit("$1"))))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val tf = transforms(seed, replicas)
    val perms = typedLit(tf.map(_._1).toArray)
    val signs = typedLit(tf.map(_._2).toArray)
    val ki = (k + 1).cast("int")
    write("embeddings", expand("embeddings")
      .withColumn("vec_id", col("vec_id") + k * (oS * 10))
      .withColumn("embedding", zip_with(
        transform(element_at(perms, ki), i => element_at(col("embedding"), i + 1)),
        element_at(signs, ki), (x, s) => x * s)))
    def rep(ps: Seq[(Long, Long)], stride: Long) =
      for (r <- 0 until replicas; (a, c) <- ps) yield (a + r * stride, c + r * stride)
    b.copy(dir = dir, docs = b.docs * replicas,
      distinctTexts = b.distinctTexts * replicas, vecs = b.vecs * replicas,
      orders = 0L, textPairs = rep(b.textPairs, oS),
      twinPairs = rep(b.twinPairs, oS), vecPairs = rep(b.vecPairs, oS * 10),
      plainDocs = IndexedSeq.empty, plainVecs = IndexedSeq.empty,
      vecRows = IndexedSeq.empty, inputBytes = dirBytes(dir))
  }

  def dirBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_"))
        .map(f => java.nio.file.Files.size(f)).sum
      finally s.close()
    }
  }
}

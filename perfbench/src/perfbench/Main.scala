package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._
import graft.sources.Sink

/** The end-to-end benchmark: drives the library's public layer
  * functions from outside, over inputs made by [[Gen]] from the seed.
  *
  *   perfbench.Main --workload <maintain|curate> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir>
  *
  * A run sets up (timed: `setup_s`), then runs whole units (a
  * maintenance micro-batch, a curation pass) until `--seconds` have
  * passed (median unit wall: `unit_ms`), checking the outputs as it
  * goes. The last stdout line is one JSON object with the keys
  * correct, attempted, failed and metrics. */
object Main {
  val Workloads = Seq("maintain", "curate")

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val o = Opts(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", m("--work"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line =
      try new Bench(spark, o).run()
      finally spark.stop()
    println(line)
  }
}

final class Bench(spark: SparkSession, o: Main.Opts) {
  import Bench._

  private val tr = new Trace(spark.sparkContext)
  private val attempted = new AtomicLong(0)
  private val failed = new AtomicLong(0)
  private val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  private val work = o.work
  private val seed = o.seed
  private val born = System.nanoTime()

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%6.1fs $msg")

  private def put(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)

  /** A correctness check: counts as attempted, and as failed when it
    * is false or throws. */
  private def check(what: String)(cond: => Boolean): Unit = {
    attempted.incrementAndGet()
    val ok = try cond catch {
      case NonFatal(e) => log(s"check '$what' threw: $e"); false
    }
    if (!ok) { failed.incrementAndGet(); log(s"CHECK FAILED: $what") }
  }

  // -------------------------------------------------------- library calls

  /** One call into the library, as a trace span named after the layer
    * function. A call that throws counts as failed; the exception
    * propagates to the unit that made it. */
  private def call[T](name: String, run: Long)(f: => T): T = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try tr.span(name, run)(f)
    catch { case NonFatal(e) => failed.incrementAndGet(); throw e }
    finally log(f"$name ${(System.nanoTime() - t0) / 1e6}%.0f ms")
  }

  /** Run whole units (micro-batches, passes) until `seconds` have
    * passed; returns each unit's wall time in ms. A unit that throws is
    * logged and not timed. */
  private def loop(seconds: Double)(unit: Int => Unit): Seq[Double] = {
    val ms = ArrayBuffer[Double]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) {
      val t0 = System.nanoTime()
      try { tr.span("unit", i)(unit(i)); ms += (System.nanoTime() - t0) / 1e6 }
      catch { case NonFatal(e) => log(s"unit $i failed: $e") }
      i += 1
    }
    ms.toSeq
  }

  private def read(dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(spark, dir)
    else spark.read.parquet(s"$dir/$t.parquet")

  // ----------------------------------------------------------------- setup

  /** maintain's set-up: one ingest pass over the base corpus into a
    * fresh directory — denorm the normalized tables and bulk-write the
    * nested docs, then build the three indexes. Built through the
    * public `build` functions, never the tmpdir-memoized `ensure`, so
    * every run pays the full build. */
  private def ingest(c: Gen.Corpus): Arts = {
    val dir = s"$work/art/base"
    val t0 = System.nanoTime()
    val (acked, text, ann, dedup) = tr.span("setup", -1) {
      val docs = read(c.dir, "documents")
      (call("Sink.bulkWrite", -1)(
        Sink.bulkWrite(spark, Denorm.docs(spark, c.dir), "id", s"$dir/docs")),
        call("TextIndex.build", -1)(TextIndex.build(docs, s"$dir/text")),
        call("AnnIndex.build", -1)(AnnIndex.build(read(c.dir, "embeddings"), s"$dir/ann")),
        call("DedupIndex.build", -1)(DedupIndex.build(docs, s"$dir/dedup")))
    }
    put("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    check("bulk-write ack equals generated order count")(acked == c.orders)
    check("text index doc count equals corpus docs")(
      text.doclen(spark).count() == c.docs)
    check("dedup index fingerprints equal distinct texts")(
      dedup.fingerprints(spark).count() == c.distinctTexts)
    check("ANN index rows equal corpus vectors")(ann.ivf(spark).count() == c.vecs)
    Arts(dir, s"$dir/docs", text, ann, dedup)
  }

  // ------------------------------------------------------------- requests

  /** The index dictionary ranked by document frequency; query terms
    * are Zipf draws over this ranking. */
  private def dictionary(a: Arts): IndexedSeq[String] =
    a.text.termDf(spark).orderBy(col("df").desc, col("term"))
      .limit(2000).collect().map(_.getString(0)).toIndexedSeq

  private def terms(r: java.util.SplittableRandom, dict: IndexedSeq[String],
                    z: Gen.Zipf): Seq[String] =
    Seq.fill(1 + r.nextInt(4))(dict(z.draw(r))).distinct

  private def bm25(ix: TextIndex.Loaded, ts: Seq[String], run: Long): Seq[(Long, Double)] =
    call("Search.searchBm25Indexed", run)(
      Search.searchBm25Indexed(spark, ix, ts).collect())
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq

  private def knn(ix: AnnIndex.Loaded, queries: DataFrame, id: Long,
                  run: Long): Seq[(Long, Long)] =
    call("AnnIndex.search", run)(AnnIndex.search(spark, ix, queries, Seq(id), 10).collect())
      .map(h => (h.getAs[Long]("vec_id"), h.getAs[Number]("rank").longValue)).toSeq

  private def screen(ix: DedupIndex.Loaded, batch: DataFrame, run: Long): Set[Long] =
    call("DedupIndex.screenNear", run)(DedupIndex.screenNear(spark, ix, batch).collect())
      .filter(x => !x.getAs[Boolean]("is_new")).map(_.getAs[Long]("doc_id")).toSet

  private def nested(a: Arts, domain: String, run: Long): Seq[Row] =
    call("Search.scoredSearch", run)(
      Search.scoredSearch(spark.read.parquet(a.docs), domain).collect()).toSeq

  private def msearch(ix: TextIndex.Loaded, qs: Seq[(String, Seq[String])],
                      run: Long): Array[Row] =
    call("Search.msearchBm25Multi", run)(Search.msearchBm25Multi(spark, ix, qs).collect())

  // -------------------------------------------------------------- workloads

  def run(): String = {
    if (o.trace) tr.start()
    o.workload match {
      case "maintain" => maintain()
      case "curate" => curate()
    }
    if (o.trace) {
      val dir = java.nio.file.Paths.get(work).toAbsolutePath.getParent.resolve("traces")
      java.nio.file.Files.createDirectories(dir)
      val f = dir.resolve(s"${o.workload}-seed$seed.jsonl").toString
      log(s"wrote ${tr.writeSpans(f)} spans to $f")
    }
    result()
  }

  /** The measured phase. An untraced run runs it once. A traced run
    * runs it four times: a warm-up and a plain pass with the listener
    * detached, a traced pass, and another plain pass. The per-layer
    * metrics come from the traced pass; the overhead compares it with
    * the mean of the plain passes around it, which cancels most of the
    * JIT warm-up still going on. */
  private def measured(body: => Seq[Double]): Unit = {
    def once(): Seq[Double] = {
      val ms = body
      put("unit_ms", Stats.median(ms), "ms")
      log(s"units (ms): ${ms.map(x => f"$x%.0f").mkString(" ")}")
      ms
    }
    if (!o.trace) once()
    else {
      tr.stop()
      once()
      val before = Stats.median(once())
      tr.start()
      val traced = once()
      val t = tr.totals
      tr.stop()
      val after = Stats.median(once())
      val n = math.max(1, traced.length).toDouble
      put("trace.overhead_pct",
        100.0 * (Stats.median(traced) / ((before + after) / 2) - 1.0), "%")
      put("spark.cpu_util", t.cpuNs / 1e6 / math.max(1L, t.runMs), "ratio")
      put("spark.gc_s", t.gcMs / 1e3 / n, "s")
      put("spark.spill_mb", t.spill / 1048576.0 / n, "MB")
      put("spark.jobs", t.jobs / n, "count")
      put("spark.skew", tr.skew(), "ratio")
    }
  }

  private def texts(base: Gen.Corpus): Map[Long, String] =
    read(base.dir, "documents").collect().map(x => x.getLong(0) -> x.getString(1)).toMap

  /** Read-side checks of the freshly built base artifacts, one request
    * of each serving kind against an independent answer: indexed BM25
    * against the scan path, a planted kNN twin, planted near-dups
    * through the screen, the nested scored search against its
    * raw-table plan, and an msearch batch. */
  private def readChecks(base: Gen.Corpus, a: Arts, txt: Map[Long, String]): Unit = {
    val r = Gen.rng(seed, 50)
    val dict = dictionary(a)
    val z = new Gen.Zipf(dict.length)
    val ts = terms(r, dict, z)
    val scan = Search.searchBm25(spark, base.dir, ts).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val idx = bm25(a.text, ts, -1)
    check(s"indexed BM25 equals the scan path for '${ts.mkString(" ")}'")(
      idx.nonEmpty && idx == scan)
    val (x, y) = base.vecPairs(r.nextInt(base.vecPairs.length))
    check(s"planted kNN twin $y of $x at rank <= 2")(
      knn(a.ann, read(base.dir, "embeddings"), x, -1).exists(h => h._1 == y && h._2 <= 2))
    // a screening batch: near copies (one word appended) of indexed
    // docs among fresh docs; every near copy must be flagged
    val near = (0 until ScreenNear).map { i =>
      val src = base.plainDocs(r.nextInt(base.plainDocs.length))
      (20000000L + i, txt(src) + " " + base.vocab(r.nextInt(base.vocab.length)))
    }
    val fresh = (ScreenNear until ScreenBatch).map(i =>
      (20000000L + i, Gen.text(r, base.vocab, base.zipf, 20000000L + i)))
    check("planted near-dups flagged by screenNear")(near.map(_._1).toSet
      .subsetOf(screen(a.dedup, Gen.docsFrame(spark, near ++ fresh), -1)))
    val d = base.domains(r.nextInt(base.domains.length))
    check(s"nested scoredSearch equals the raw-table plan for '$d'")(
      nested(a, d, -1) == Search.scoredSearchRaw(spark, base.dir, d).collect().toSeq)
    val qs = (0 until 4).map(q => (s"q$q", terms(r, dict, z)))
    val ms = msearch(a.text, qs, -1)
    check("msearch answers every query of the batch")(
      ms.map(_.getString(0)).toSet == qs.map(_._1).toSet)
  }

  /** maintain: a seeded stream of micro-batches over the base
    * artifacts. Each batch adds docs (text segment + dedup admission,
    * with duplicate-content docs the admission must refuse) and
    * vectors, deletes docs and vectors, runs both purge policies, then
    * reads its own writes back. */
  private def maintain(): Unit = {
    val base = Gen.base(spark, seed, s"$work/in/base", relational = true)
    log("base corpus generated")
    val a0 = ingest(base)
    log("base artifacts built")
    val txt = texts(base)
    readChecks(base, a0, txt)
    log("read checks done")
    val r = Gen.rng(seed, 70)
    val rand = new scala.util.Random(r.nextLong())
    val delDocs = rand.shuffle(base.plainDocs).iterator
    val delVecs = rand.shuffle(base.plainVecs).iterator
    val vecById = base.vecRows.map(v => v._1 -> v).toMap
    val baseEmb = read(base.dir, "embeddings")
    val added = ArrayBuffer[(Long, Array[Float], Int)]()
    import spark.implicits._
    var text = a0.text
    var ann = a0.ann
    val dedup = a0.dedup
    var liveDocs = base.docs
    var liveVecs = base.vecs
    var fps = base.distinctTexts
    var admitted, offered, purgeCalls = 0L
    val purges = Array(0L, 0L)

    def batch(b: Int): Unit = {
      val idBase = 30000000L + b * 100L
      val fresh = (0 until MaintFresh).map(i =>
        (idBase + i, Gen.text(r, base.vocab, base.zipf, idBase + i)))
      val dups = (0 until MaintDups).map(i =>
        (idBase + MaintFresh + i, txt(base.plainDocs(r.nextInt(base.plainDocs.length)))))
      val docsDf = Gen.docsFrame(spark, fresh ++ dups)
      val vecRows = (0 until MaintVecs).map { i =>
        val l = r.nextInt(Gen.Labels)
        (40000000L + b * 100L + i, Gen.vector(r, base.centres(l)), l)
      }
      val vecDf = Gen.vecsFrame(spark, vecRows)
      added ++= vecRows
      val dDocs = Seq.fill(MaintDel)(delDocs.next())
      val dVecs = Seq.fill(MaintDel)(delVecs.next())

      text = call("TextIndex.addSegment", b)(TextIndex.addSegment(text, docsDf))
      val adm = call("DedupIndex.addBatch", b)(DedupIndex.addBatch(spark, dedup, docsDf))
      ann = call("AnnIndex.addVectors", b)(AnnIndex.addVectors(ann, vecDf))
      val nDel = call("TextIndex.deleteByQuery", b)(
        TextIndex.deleteByQuery(spark, text, dDocs.toDF("doc_id")))
      val nVecDel = call("AnnIndex.deleteVectors", b)(
        AnnIndex.deleteVectors(spark, ann, dVecs.toDF("vec_id")))
      if (call("TextIndex.maybePurge", b)(TextIndex.maybePurge(spark, text, PurgeRatio)))
        purges(0) += 1
      if (call("AnnIndex.maybePurge", b)(AnnIndex.maybePurge(spark, ann, PurgeRatio)))
        purges(1) += 1
      purgeCalls += 1
      liveDocs += fresh.length + dups.length - MaintDel
      liveVecs += MaintVecs - MaintDel
      fps += fresh.length
      admitted += adm._1
      offered += fresh.length + dups.length
      check(s"batch $b deletes hit every victim")(nDel == MaintDel && nVecDel == MaintDel)
      check(s"batch $b admits the fresh docs and refuses duplicate content")(
        adm == ((fresh.length.toLong, fresh.length.toLong)))

      // read-after-write and delete visibility. A kNN query is a near
      // twin of the vector looked for (a query never returns itself),
      // and the query frame must also hold every vector a probe can
      // return (the search takes result labels from it).
      val newDoc = fresh(r.nextInt(fresh.length))._1
      check(s"batch $b: new doc $newDoc is searchable")(
        bm25(text, Seq(Gen.marker(newDoc)), b).exists(_._1 == newDoc))
      check(s"batch $b: deleted doc ${dDocs.head} is not returned")(
        !bm25(text, Seq(Gen.marker(dDocs.head)), b).exists(_._1 == dDocs.head))
      val nv = vecRows(r.nextInt(vecRows.length))
      val dv = vecById(dVecs.head)
      val probes = baseEmb.unionByName(Gen.vecsFrame(spark, added.toSeq ++ Seq(
        (1L, Gen.nearTwin(r, nv._2), nv._3), (2L, Gen.nearTwin(r, dv._2), dv._3))))
      check(s"batch $b: new vector ${nv._1} is found by its twin")(
        knn(ann, probes, 1L, b).exists(h => h._1 == nv._1 && h._2 == 1))
      check(s"batch $b: deleted vector ${dv._1} is not returned")(
        !knn(ann, probes, 2L, b).exists(_._1 == dv._1))
    }

    // Maintenance runs in a long-lived ingest service, so the measured
    // batches run in a warm JVM: one untimed batch first. In a fresh
    // JVM the first batch's wall varied by ±20% run to run.
    batch(0)
    var b = 1
    measured(loop(o.seconds) { _ => batch(b); b += 1 })
    check("final live text docs")(
      TextIndex.liveView(spark, text, text.doclen(spark)).count() == liveDocs)
    check("final live vectors")(
      AnnIndex.liveView(spark, ann, ann.ivf(spark)).count() == liveVecs)
    check("final dedup fingerprints")(dedup.fingerprints(spark).count() == fps)
    put("space_amp", Gen.dirBytes(a0.dir).toDouble / base.inputBytes, "ratio")
    put("TextIndex.maybePurge.purge_ratio", purges(0).toDouble / purgeCalls, "ratio")
    put("AnnIndex.maybePurge.purge_ratio", purges(1).toDouble / purgeCalls, "ratio")
    put("DedupIndex.addBatch.admit_ratio", admitted.toDouble / offered, "ratio")
  }

  /** curate: passes of the pairwise family over the replica-scaled
    * corpus; every planted pair must be found each time. The library
    * has no set-up here, so `setup_s` is the generation of the inputs,
    * and the first pass runs in a cold JVM, as a batch curation job
    * does. */
  private def curate(): Unit = {
    val t0 = System.nanoTime()
    val base = Gen.base(spark, seed, s"$work/in/base", relational = false)
    val scaled = Gen.scaled(spark, seed, base, Gen.Replicas, s"$work/in/scaled")
    val users = Gen.events(spark, seed, Gen.EventUsers * Gen.Replicas, scaled.dir)
    put("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    log("scaled corpus generated")
    val docs = read(scaled.dir, "documents")
    val emb = read(scaled.dir, "embeddings")
    val events = read(scaled.dir, "events")
    def pairs(rows: Array[Row]) = rows.map(x => (x.getLong(0), x.getLong(1))).toSet
    def pass(p: Int): Seq[Int] = {
      val mh = pairs(call("Dedup.minhashPairs", p)(Dedup.minhashPairs(docs).collect()))
      val sh = pairs(call("Dedup.simhashPairs", p)(Dedup.simhashPairs(docs).collect()))
      val jc = pairs(call("Dedup.jaccardPairs", p)(Dedup.jaccardPairs(docs).collect()))
      val cs = pairs(call("Similarity.cosinePairsBlocked", p)(
        Similarity.cosinePairsBlocked(emb, CosineThreshold).collect()))
      val ov = pairs(call("EventOps.overlapJoin", p)(
        EventOps.overlapJoin(events, k = users.length).collect()))
      check(s"pass $p: MinHash finds every planted text pair")(scaled.textPairs.forall(mh))
      check(s"pass $p: Jaccard finds every planted text pair")(scaled.textPairs.forall(jc))
      check(s"pass $p: SimHash finds every planted exact copy")(scaled.twinPairs.forall(sh))
      check(s"pass $p: cosine finds every planted vector twin")(scaled.vecPairs.forall(cs))
      check(s"pass $p: overlap join ranks exactly the planted user pairs first")(
        ov == users.toSet)
      Seq(mh.size, sh.size, jc.size, cs.size, ov.size)
    }
    val counts = ArrayBuffer[Seq[Int]]()
    measured(loop(o.seconds)(p => counts += pass(p)))
    check("pair counts identical across passes")(counts.distinct.length == 1)
    // ...and across runs of this seed on the same build: the first run
    // records its counts next to the build, later runs compare
    val line = counts.headOption.getOrElse(Nil).mkString(" ")
    val build = java.nio.file.Paths.get(sys.props("java.class.path").split(":")(0))
    val record = java.nio.file.Paths.get(work).toAbsolutePath.getParent
      .resolve(s"pair-counts/${build.getFileName}-seed$seed.txt")
    if (java.nio.file.Files.exists(record))
      check("pair counts identical across runs of this seed")(
        new String(java.nio.file.Files.readAllBytes(record), "UTF-8") == line)
    else {
      java.nio.file.Files.createDirectories(record.getParent)
      java.nio.file.Files.write(record, line.getBytes("UTF-8"))
    }
    log(s"pair counts (minhash simhash jaccard cosine overlap): $line")
    put("space_amp", 0.0, "ratio")
  }

  // ---------------------------------------------------------------- output

  private def result(): String = {
    val shown =
      if (o.trace) {
        val layers = tr.layerMetrics()
        for (s <- Spans) {
          val l = layers.getOrElse(s, Trace.LayerStats(0, 0, 0, 0, 0))
          put(s"$s.wall_ms", l.wallMs, "ms")
          put(s"$s.jobs", l.jobs, "count")
          put(s"$s.tasks", l.tasks, "count")
          put(s"$s.cpu_s", l.cpuS, "s")
          put(s"$s.shuffle_w_mb", l.shuffleWMb, "MB")
        }
        for (k <- RatioMetrics if !metrics.contains(k)) put(k, 0.0, "ratio")
        PerLayer
      } else EndToEnd
    val body = shown.map { k =>
      val (v, u) = metrics(k)
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed.get() == 0}, "attempted": ${attempted.get()}, """ +
      s""""failed": ${failed.get()}, "metrics": {$body}}"""
  }
}

object Bench {
  final case class Arts(dir: String, docs: String, text: TextIndex.Loaded,
                        ann: AnnIndex.Loaded, dedup: DedupIndex.Loaded)

  val ScreenBatch = 50
  val ScreenNear = 10
  val MaintFresh = 16
  val MaintDups = 4
  val MaintVecs = 16
  val MaintDel = 8
  /** A tombstone ratio low enough that every batch's deletes trip a
    * purge in both indexes. */
  val PurgeRatio = 0.004
  val CosineThreshold = 0.95

  val Spans = Seq(
    "Sink.bulkWrite", "TextIndex.build", "AnnIndex.build", "DedupIndex.build",
    "TextIndex.addSegment", "AnnIndex.addVectors", "DedupIndex.addBatch",
    "TextIndex.deleteByQuery", "AnnIndex.deleteVectors",
    "TextIndex.maybePurge", "AnnIndex.maybePurge",
    "Search.searchBm25Indexed", "Search.msearchBm25Multi", "Search.scoredSearch",
    "AnnIndex.search", "DedupIndex.screenNear",
    "Dedup.minhashPairs", "Dedup.simhashPairs", "Dedup.jaccardPairs",
    "Similarity.cosinePairsBlocked", "EventOps.overlapJoin")

  val RatioMetrics = Seq("TextIndex.maybePurge.purge_ratio",
    "AnnIndex.maybePurge.purge_ratio", "DedupIndex.addBatch.admit_ratio")

  val EndToEnd = Seq("setup_s", "unit_ms")

  val PerLayer: Seq[String] =
    Spans.flatMap(s => Seq("wall_ms", "jobs", "tasks", "cpu_s", "shuffle_w_mb").map(m => s"$s.$m")) ++
      Seq("spark.cpu_util", "spark.gc_s", "spark.spill_mb", "spark.jobs", "spark.skew",
        "trace.overhead_pct", "space_amp") ++ RatioMetrics

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

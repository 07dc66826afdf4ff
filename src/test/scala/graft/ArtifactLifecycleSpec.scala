package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, DedupIndex, TextIndex}
import scala.jdk.CollectionConverters._

/** The generation-pointer artifact lifecycle (operators.ArtifactGen):
  * a rebuild of the SAME corpus version — e.g. after a torn-append
  * invalidation — must never rewrite a directory a stale reader still
  * holds. Interleaves ensure() with a stale `Loaded` and proves every
  * reader sees a WHOLLY-OLD or WHOLLY-NEW artifact, plus the in-JVM
  * memo eviction that makes "next ensure() rebuilds" true without a
  * JVM restart (the round-7 advisor finding). */
class ArtifactLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def wipe(root: java.nio.file.Path): Unit =
    graft.operators.ArtifactGen.wipe(root)

  test("text index: rebuild publishes a fresh generation; stale reader stays wholly-old") {
    val key = "lifecycle-spec-text"
    val root = TextIndex.rootFor(key)
    TextIndex.lifecycle.evictMemo(key)
    wipe(root)
    val docs1 = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val a = TextIndex.ensure(docs1, key)
    assert(a.dir.endsWith("gen-1"), a.dir)

    // a torn append invalidates: _DONE removed AND the memo evicted —
    // the SAME JVM must rebuild on the next ensure()
    TextIndex.lifecycle.invalidate(a)
    val docs2 = (1L to 5L).map(i => (i, s"delta epsilon d$i"))
      .toDF("doc_id", "text")
    val b = TextIndex.ensure(docs2, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"),
      s"rebuild must go to a fresh generation: ${a.dir} -> ${b.dir}")

    // the stale reader's generation is untouched and internally
    // consistent (its stats still describe its own postings)
    assert(a.doclen(spark).count() == 2L)
    assert(a.corpus(spark).head().getDouble(0) == 2.0)
    assert(a.postings(spark).select("doc_id").distinct().count() == 2L)
    // the new reader is wholly-new
    assert(b.doclen(spark).count() == 5L)
    assert(b.corpus(spark).head().getDouble(0) == 5.0)

    // a fresh JVM (memo evicted, disk intact) resolves the pointer to
    // the PUBLISHED generation — no rebuild (a rebuild would be gen-3)
    TextIndex.lifecycle.evictMemo(key)
    assert(TextIndex.ensure(docs2, key).dir == b.dir)
  }

  test("ann index: rebuild publishes a fresh generation; stale reader stays wholly-old") {
    val key = "lifecycle-spec-ann"
    val root = AnnIndex.rootFor(key)
    AnnIndex.lifecycle.evictMemo(key)
    wipe(root)
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val a = AnnIndex.ensure(corpus, key)
    assert(a.dir.endsWith("gen-1"), a.dir)
    val nIvf = a.ivf(spark).count()
    val nPq = a.pqCodes(spark).count()

    AnnIndex.lifecycle.invalidate(a)
    val b = AnnIndex.ensure(corpus, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"),
      s"rebuild must go to a fresh generation: ${a.dir} -> ${b.dir}")

    // stale reader: generation 1 untouched — every table still whole
    assert(a.ivf(spark).count() == nIvf)
    assert(a.pqCodes(spark).count() == nPq)
    assert(a.sq8(spark).count() == nIvf)

    AnnIndex.lifecycle.evictMemo(key)
    assert(AnnIndex.ensure(corpus, key).dir == b.dir)
  }

  test("text index: ensure detects out-of-lockstep tables and rebuilds a fresh generation") {
    import spark.implicits._
    val key = "lockstep-spec-text"
    val root = TextIndex.rootFor(key)
    TextIndex.lifecycle.evictMemo(key)
    wipe(root)
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val a = TextIndex.ensure(docs, key)
    // simulate a hard kill after the doclen append but before the
    // corpus swap: _DONE intact, stats no longer describe the tables
    Seq((99L, 3)).toDF("doc_id", "len")
      .write.mode("append").parquet(s"${a.dir}/doclen")
    TextIndex.lifecycle.evictMemo(key)
    val b = TextIndex.ensure(docs, key)
    assert(b.dir != a.dir,
      s"a torn artifact must rebuild into a fresh generation: ${b.dir}")
    assert(b.corpus(spark).head().getDouble(0).toLong
      == b.doclen(spark).count())
    // an intact artifact keeps resolving without a rebuild
    TextIndex.lifecycle.evictMemo(key)
    assert(TextIndex.ensure(docs, key).dir == b.dir)
  }

  test("ann index: ensure detects out-of-lockstep encodings and rebuilds a fresh generation") {
    val key = "lockstep-spec-ann"
    val root = AnnIndex.rootFor(key)
    AnnIndex.lifecycle.evictMemo(key)
    wipe(root)
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val a = AnnIndex.ensure(corpus, key)
    // simulate a crash after the ivf append but before the other
    // three encodings: duplicate one ivf row file-level
    a.ivf(spark).limit(1)
      .write.mode("append").partitionBy("cell").parquet(s"${a.dir}/ivf")
    AnnIndex.lifecycle.evictMemo(key)
    val b = AnnIndex.ensure(corpus, key)
    assert(b.dir != a.dir,
      s"a torn artifact must rebuild into a fresh generation: ${b.dir}")
    assert(b.ivf(spark).count() == b.sq8(spark).count())
    AnnIndex.lifecycle.evictMemo(key)
    assert(AnnIndex.ensure(corpus, key).dir == b.dir)
  }

  // a hard crash between a table swap's delete and its rename leaves
  // the table missing with _DONE intact: ensure() must count that as a
  // tear at once and rebuild into a fresh generation
  private def missingTableRebuilds(key: String, root: java.nio.file.Path,
                                   table: String, evict: () => Unit,
                                   ensure: () => graft.operators.ArtifactGen.Handle): Unit = {
    evict()
    wipe(root)
    val a = ensure()
    assert(a.dir.endsWith("gen-1"), a.dir)
    wipe(java.nio.file.Paths.get(a.dir, table))
    evict()
    val b = ensure()
    assert(b.dir.endsWith("gen-2"),
      s"a missing $table/ must rebuild into a fresh generation: ${b.dir}")
    // the rebuilt generation is intact: a fresh resolve keeps it
    evict()
    assert(ensure().dir == b.dir)
    evict()
    wipe(root)
  }

  test("text index: a missing table rebuilds a fresh generation") {
    val key = "missing-spec-text"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    missingTableRebuilds(key, TextIndex.rootFor(key), "corpus",
      () => TextIndex.lifecycle.evictMemo(key),
      () => TextIndex.ensure(docs, key))
  }

  test("ann index: a missing table rebuilds a fresh generation") {
    val key = "missing-spec-ann"
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    missingTableRebuilds(key, AnnIndex.rootFor(key), "sq8",
      () => AnnIndex.lifecycle.evictMemo(key),
      () => AnnIndex.ensure(corpus, key))
  }

  test("dedup index: a missing table rebuilds a fresh generation") {
    val key = "missing-spec-dedup"
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    missingTableRebuilds(key, DedupIndex.rootFor(key), "buckets",
      () => DedupIndex.lifecycle.evictMemo(key),
      () => DedupIndex.ensure(docs, key))
  }

  test("dedup index: rebuild publishes a fresh generation; stale reader stays wholly-old") {
    val key = "lifecycle-spec-dedup"
    val root = DedupIndex.rootFor(key)
    DedupIndex.lifecycle.evictMemo(key)
    wipe(root)
    val docs1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val a = DedupIndex.ensure(docs1, key)
    assert(a.dir.endsWith("gen-1"), a.dir)
    val counts = (a.fingerprints(spark).count(), a.buckets(spark).count(),
      a.shingleSets(spark).count())

    DedupIndex.lifecycle.invalidate(a)
    val docs2 = (1L to 5L)
      .map(i => (i, s"river stone bridge dawn mountain number $i"))
      .toDF("doc_id", "text")
    val b = DedupIndex.ensure(docs2, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"),
      s"rebuild must go to a fresh generation: ${a.dir} -> ${b.dir}")

    // the stale reader's generation is untouched: every table whole
    assert((a.fingerprints(spark).count(), a.buckets(spark).count(),
      a.shingleSets(spark).count()) == counts)
    assert(a.fingerprints(spark).count() == 2L)
    // the new reader is wholly-new
    assert(b.fingerprints(spark).count() == 5L)
    assert(b.shingleSets(spark).count() == 5L)

    DedupIndex.lifecycle.evictMemo(key)
    assert(DedupIndex.ensure(docs2, key).dir == b.dir)
    wipe(root)
  }

  test("commit guard: a throwing body removes _DONE, evicts the memo and rethrows") {
    val key = "commit-guard-spec"
    val root = DedupIndex.rootFor(key)
    DedupIndex.lifecycle.evictMemo(key)
    wipe(root)
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val a = DedupIndex.ensure(docs, key)
    val boom = new RuntimeException("boom")
    val e = intercept[IllegalStateException] {
      DedupIndex.lifecycle.commit(a, "spec append") { throw boom }
    }
    assert(e.getCause eq boom)
    assert(e.getMessage == s"partial spec append into ${a.dir} — artifact " +
      "invalidated (_DONE removed, memo evicted), next ensure() rebuilds")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(a.dir, "_DONE")))
    // memo evicted: the SAME JVM's next ensure() rebuilds (a memo hit
    // would hand back the torn gen-1)
    val b = DedupIndex.ensure(docs, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"), b.dir)
    // a body that returns leaves the artifact and memo alone
    assert(DedupIndex.lifecycle.commit(b, "spec append")(42) == 42)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(b.dir, "_DONE")))
    assert(DedupIndex.ensure(docs, key) eq b)
    DedupIndex.lifecycle.evictMemo(key)
    wipe(root)
  }

  test("generation claim is atomic: two racing builders get distinct dirs and a consistent _CURRENT") {
    import java.nio.file.{Files, Paths}
    import graft.operators.ArtifactGen
    // Two "JVMs": resolveOrBuild called directly (the per-family memo
    // deliberately bypassed — that is exactly what a second process
    // looks like). The barrier inside build() guarantees both racers
    // are PAST their claim before either publishes, i.e. the exact
    // interleaving that used to put both builders into one gen dir.
    val root = Files.createTempDirectory("graft_gen_race")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(tag: String): Thread = {
      val t = new Thread(() =>
        try {
          val built = ArtifactGen.resolveOrBuild[String](root,
            load = dir => dir,
            build = { dir =>
              barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
              Files.write(Paths.get(dir, "payload.txt"),
                tag.getBytes("UTF-8"))
              Files.write(Paths.get(dir, "_DONE"), Array.empty[Byte])
              dir
            })
          dirs.add(built); ()
        } catch { case e: Throwable => errs.add(e); () })
      t.start(); t
    }
    val threads = Seq(racer("racer-a"), racer("racer-b"))
    threads.foreach(_.join(30000))
    assert(errs.isEmpty, s"racer failed: ${errs.asScala.toSeq}")
    val built = dirs.asScala.toSeq.sorted
    assert(built.size == 2 && built.distinct.size == 2,
      s"each racer must claim its OWN generation dir: $built")
    // neither directory is torn: each holds exactly its owner's file
    built.foreach { d =>
      val payload = new String(
        Files.readAllBytes(Paths.get(d, "payload.txt")), "UTF-8")
      assert(payload.startsWith("racer-"), payload)
      assert(Files.exists(Paths.get(d, "_DONE")))
    }
    // _CURRENT resolves to one COMPLETE generation (last publisher
    // wins; both candidates are individually whole, so either is a
    // consistent outcome)
    val current = ArtifactGen.currentDir(root)
    assert(current.isDefined && built.contains(current.get.toString),
      s"_CURRENT must name one of the racers' dirs: $current vs $built")
    ArtifactGen.wipe(root)
  }

  test("gc keeps the live generation, the rollback window, and in-flight builds; sweeps the rest") {
    import java.nio.file.{Files, Paths}
    import graft.operators.ArtifactGen
    val root = Files.createTempDirectory("graft_gen_gc")
    def mkGen(n: Int, done: Boolean): Unit = {
      val d = root.resolve(s"gen-$n")
      Files.createDirectories(d)
      Files.write(d.resolve("data.txt"), s"g$n".getBytes("UTF-8"))
      if (done) Files.write(d.resolve("_DONE"), Array.empty[Byte])
      ()
    }
    // gen-1..gen-3 complete, live = gen-3, gen-4 claimed but still
    // building (no _DONE) — the in-flight racer gc must never touch
    (1 to 3).foreach(mkGen(_, done = true))
    mkGen(4, done = false)
    ArtifactGen.publish(root, root.resolve("gen-3"))

    val swept = ArtifactGen.gc(root, keepLast = 2)
    assert(swept.map(_.getFileName.toString) == Seq("gen-1"), swept)
    assert(!Files.exists(root.resolve("gen-1")), "gen-1 must be swept")
    assert(Files.exists(root.resolve("gen-2")), "rollback gen retained")
    assert(Files.exists(root.resolve("gen-3")), "live gen retained")
    assert(Files.exists(root.resolve("gen-4")), "in-flight build retained")
    // the pointer never dangles: it still resolves to the live gen
    assert(ArtifactGen.currentDir(root).map(_.getFileName.toString)
      .contains("gen-3"))
    // idempotent: nothing older remains
    assert(ArtifactGen.gc(root, keepLast = 2).isEmpty)
    // keepLast=1 drops the rollback window too
    assert(ArtifactGen.gc(root, keepLast = 1)
      .map(_.getFileName.toString) == Seq("gen-2"))
    ArtifactGen.wipe(root)
  }

  test("gc's rollback window counts only COMPLETE generations; torn predecessors are swept") {
    import java.nio.file.Files
    import graft.operators.ArtifactGen
    // the review scenario: gen-1 complete, gen-2 TORN (invalidated by
    // a failed append), gen-3 live. A window that counted gen-2 would
    // sweep the only real rollback candidate while retaining a
    // useless directory; the correct sweep reclaims torn gen-2 and
    // keeps complete gen-1 as the rollback.
    val root = Files.createTempDirectory("graft_gen_gc_torn")
    def mkGen(n: Int, done: Boolean): Unit = {
      val d = root.resolve(s"gen-$n")
      Files.createDirectories(d)
      Files.write(d.resolve("data.txt"), s"g$n".getBytes("UTF-8"))
      if (done) Files.write(d.resolve("_DONE"), Array.empty[Byte])
      ()
    }
    mkGen(1, done = true)
    mkGen(2, done = false)
    mkGen(3, done = true)
    ArtifactGen.publish(root, root.resolve("gen-3"))
    val swept = ArtifactGen.gc(root, keepLast = 2)
    assert(swept.map(_.getFileName.toString) == Seq("gen-2"), swept)
    assert(Files.exists(root.resolve("gen-1")),
      "the only complete predecessor is the rollback window — kept")
    assert(Files.exists(root.resolve("gen-3")), "live retained")
    assert(ArtifactGen.currentDir(root).map(_.getFileName.toString)
      .contains("gen-3"))
    ArtifactGen.wipe(root)
  }

  test("gc skips an older-than-live dir with a FRESH claim; sweeps it once the claim is stale") {
    import java.nio.file.Files
    import graft.operators.ArtifactGen
    // the residual race the claim grace closes: a builder claims
    // gen-2 while live is gen-1, a later claimant builds gen-3 and
    // publishes FIRST — now the in-flight gen-2 is older than live
    // with no _DONE. Sweeping it mid-build would let it publish a
    // torn-but-marked generation; the fresh _CLAIM marker written by
    // claimNextGen must protect it until the grace expires.
    val root = Files.createTempDirectory("graft_gen_gc_claim")
    def mkDone(n: Int): Unit = {
      val d = root.resolve(s"gen-$n")
      Files.createDirectories(d)
      Files.write(d.resolve("_DONE"), Array.empty[Byte])
      ()
    }
    mkDone(1)
    val claimed = ArtifactGen.claimNextGen(root) // gen-2, fresh _CLAIM
    assert(claimed.getFileName.toString == "gen-2")
    assert(Files.exists(claimed.resolve("_CLAIM")),
      "claimNextGen must timestamp its claim")
    mkDone(3)
    ArtifactGen.publish(root, root.resolve("gen-3"))

    // keepLast=1: gen-1 (complete, older) is swept; gen-2 survives —
    // its claim is fresh, so gc treats it as an in-flight build
    val swept = ArtifactGen.gc(root, keepLast = 1)
    assert(swept.map(_.getFileName.toString) == Seq("gen-1"), swept)
    assert(Files.exists(claimed), "fresh-claimed in-flight dir retained")

    // once the claim is stale (grace 0) the crashed build is garbage
    // and the sweep reclaims it
    val swept2 = ArtifactGen.gc(root, keepLast = 1, claimGraceMs = 0L)
    assert(swept2.map(_.getFileName.toString) == Seq("gen-2"), swept2)
    assert(!Files.exists(claimed), "stale claim reclaimed")
    assert(ArtifactGen.currentDir(root).map(_.getFileName.toString)
      .contains("gen-3"))
    ArtifactGen.wipe(root)
  }

  test("gc claim freshness survives builder clock skew: stale written ts + fresh mtime is in-flight") {
    import java.nio.file.Files
    import graft.operators.ArtifactGen
    // a builder on a host whose clock runs BEHIND the sweeper's writes
    // a _CLAIM timestamp that looks expired; the claim file's mtime (a
    // second clock, often the FS server's) is fresh — gc must take the
    // max and keep protecting the in-flight build (skew errs toward
    // NOT sweeping; a crashed build still ages out on both clocks)
    val root = Files.createTempDirectory("graft_gen_gc_skew")
    def mkDone(n: Int): Unit = {
      val d = root.resolve(s"gen-$n")
      Files.createDirectories(d)
      Files.write(d.resolve("_DONE"), Array.empty[Byte])
      ()
    }
    mkDone(1)
    val skewed = root.resolve("gen-2")
    Files.createDirectories(skewed)
    Files.write(skewed.resolve("_CLAIM"), "0\n".getBytes("UTF-8")) // epoch 0
    mkDone(3)
    ArtifactGen.publish(root, root.resolve("gen-3"))
    val swept = ArtifactGen.gc(root, keepLast = 1)
    assert(swept.map(_.getFileName.toString) == Seq("gen-1"), swept)
    assert(Files.exists(skewed),
      "fresh-mtime claim must protect the build despite a skewed written ts")
    ArtifactGen.wipe(root)
  }

  test("gc with no resolvable _CURRENT deletes nothing") {
    import java.nio.file.Files
    import graft.operators.ArtifactGen
    val root = Files.createTempDirectory("graft_gen_gc_nocur")
    val d = root.resolve("gen-1")
    Files.createDirectories(d)
    // no _CURRENT at all
    assert(ArtifactGen.gc(root).isEmpty && Files.exists(d))
    // _CURRENT present but its target has no _DONE (torn build):
    // still no sweep — gc must not eat the only complete candidate
    ArtifactGen.publish(root, d)
    assert(ArtifactGen.gc(root).isEmpty && Files.exists(d))
    ArtifactGen.wipe(root)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupIndex}

/** The standing dedup index as a persisted artifact
  * (operators.DedupIndex): screening through the artifact must equal
  * the in-query standing frames it replaced, and the maintenance
  * append must give the idempotence a daily-ingest dedup service
  * relies on. */
class DedupIndexSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val standing = docs.filter(col("doc_id") % 10 =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % 10 === 0)

  test("artifact screening equals the in-query standing frames exactly") {
    val ix = DedupIndex.build(standing, Scratch.dir("dixspec"))
    val exactA = DedupIndex.screenExact(spark, ix, batch)
      .orderBy("doc_id").collect().toSeq
    val exactD = Dedup.incrementalExact(batch, Dedup.exact(standing))
      .orderBy("doc_id").collect().toSeq
    assert(exactA == exactD)
    val nearA = DedupIndex.screenNear(spark, ix, batch)
      .orderBy("doc_id").collect().toSeq
    val nearD = Dedup.incrementalMinhash(batch,
        Dedup.bandBuckets(standing), Dedup.withHashedShingleSet(standing))
      .orderBy("doc_id").collect().toSeq
    assert(nearA == nearD)
  }

  test("addBatch: survivors enter once; re-screen knows all; re-append is a no-op") {
    val ix = DedupIndex.build(standing, Scratch.dir("dixspec2"))
    val before = ix.fingerprints(spark).count()
    val (n1, fps1) = DedupIndex.addBatch(spark, ix, batch)
    assert(n1 > 0 && fps1 > 0 && fps1 <= n1)
    assert(ix.fingerprints(spark).count() == before + fps1)
    // idempotence: the same batch re-delivered screens entirely known
    // (exact AND near — the appended representatives carry bucket and
    // shingle rows too) and appends nothing
    assert(DedupIndex.screenExact(spark, ix, batch)
      .filter(col("is_new")).count() == 0L)
    assert(DedupIndex.screenNear(spark, ix, batch)
      .filter(col("is_new")).count() == 0L)
    val (n2, fps2) = DedupIndex.addBatch(spark, ix, batch)
    assert(n2 == 0L && fps2 == 0L)
    assert(ix.fingerprints(spark).count() == before + fps1)
  }

  test("strict near-dup admission: a daily re-worded duplicate never grows the index") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa"
    val standing = Seq((1L, base),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val ix = DedupIndex.build(standing, Scratch.dir("dixstrict"))
    val counts0 = (ix.fingerprints(spark).count(),
      ix.buckets(spark).count(), ix.shingleSets(spark).count())
    // day 1: a re-worded duplicate (one appended word — Jaccard ≈
    // 14/15 against doc 1, but a FRESH exact fingerprint) plus a
    // genuinely new doc
    val day1 = Seq((10L, base + " quebec"),
      (11L, "completely different content about rivers and mountains " +
        "flowing under ancient stone bridges at dawn"))
      .toDF("doc_id", "text")
    val (_, fpsDay1) = DedupIndex.addBatch(spark, ix, day1,
      nearThreshold = Some(0.5))
    // only the genuinely new doc was admitted
    assert(fpsDay1 == 1L, s"expected 1 admitted fingerprint, got $fpsDay1")
    assert(ix.fingerprints(spark).count() == counts0._1 + 1)
    assert(ix.buckets(spark).count() == counts0._2 + Dedup.Bands)
    assert(ix.shingleSets(spark).count() == counts0._3 + 1)
    // day 2: ANOTHER fresh rewording — under exact-only admission this
    // would enter (new fingerprint) and the index would grow forever;
    // under the strict policy it is refused again
    val counts1 = (ix.fingerprints(spark).count(),
      ix.buckets(spark).count(), ix.shingleSets(spark).count())
    val day2 = Seq((20L, base + " romeo")).toDF("doc_id", "text")
    val (_, fpsDay2) = DedupIndex.addBatch(spark, ix, day2,
      nearThreshold = Some(0.5))
    assert(fpsDay2 == 0L)
    assert((ix.fingerprints(spark).count(), ix.buckets(spark).count(),
      ix.shingleSets(spark).count()) == counts1)
    // ...while the DEFAULT policy (d17's) would have admitted it —
    // the rewording really is exact-new
    assert(DedupIndex.screenExact(spark, ix, day2)
      .filter(col("is_new")).count() == 1L)
    // and it keeps being REPORTED as a near-dup arrival either way
    val verdict = DedupIndex.screenNear(spark, ix, day2).collect().head
    assert(!verdict.getBoolean(2) && verdict.getLong(1) == 1L,
      s"rewording must resolve to standing doc 1: $verdict")
  }

  test("ensure detects out-of-lockstep tables and rebuilds a fresh generation") {
    import spark.implicits._
    val key = "dix-lockstep-spec"
    val root = DedupIndex.rootFor(key)
    DedupIndex.lifecycle.evictMemo(key)
    graft.operators.ArtifactGen.wipe(root)
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val a = DedupIndex.ensure(docs, key)
    // simulate a hard JVM kill after the fingerprints append but
    // before buckets/shingle_sets: _DONE stays, tables out of lockstep
    Seq(("deadbeef", 999L)).toDF("fingerprint", "keep_id")
      .write.mode("append").parquet(s"${a.dir}/fingerprints")
    DedupIndex.lifecycle.evictMemo(key)
    val b = DedupIndex.ensure(docs, key)
    assert(b.dir != a.dir,
      s"a torn artifact must rebuild into a fresh generation: ${b.dir}")
    // the rebuilt artifact is whole again: exact screen and near
    // verify side know the same docs
    assert(b.fingerprints(spark).count() == b.shingleSets(spark).count())
    // an INTACT artifact keeps resolving without a rebuild
    DedupIndex.lifecycle.evictMemo(key)
    assert(DedupIndex.ensure(docs, key).dir == b.dir)
  }
}

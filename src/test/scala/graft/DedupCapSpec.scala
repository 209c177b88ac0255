package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.ops.{CacheScope, Dedup}

/** The LSH bucket-size cap: a degenerate corpus (many near-identical
  * docs → one huge band/sign bucket) must not go O(bucket²); capped runs
  * drop the hot bucket, uncapped small runs are unchanged. */
class DedupCapSpec extends AnyFunSuite {

  import TestKit._
  import spark.implicits._

  test("minhash banding: 1k identical docs produce zero capped candidates") {
    val docs = (0 until 1000).map(i => (i.toLong, "the same exact document text repeated verbatim"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs, "doc_id", col("text"), n = 3, k = 8)
    val capped = Dedup.lshCandidates(sigs, "doc_id", k = 8, rowsPerBand = 4,
      maxBucket = 10)
    // every doc shares every band bucket → all buckets are size 1000 > 10
    assert(capped.count() == 0)
    // sanity: a small uncapped subset still pairs up quadratically
    val small = Dedup.minHashSignatures(docs.limit(5), "doc_id", col("text"), n = 3, k = 8)
    assert(Dedup.lshCandidates(small, "doc_id", 8, 4).count() == 10)
  }

  test("CacheScope releases operator caches after the consuming action") {
    // forked tests run sequentially (no testForkedParallel), so global
    // cache-manager state is race-free within this test
    spark.sharedState.cacheManager.clearCache()
    val docs = (0 until 40).map(i =>
      (i.toLong, s"shared prefix words for doc number ${i % 7} tail $i"))
      .toDF("doc_id", "text")
    graft.ops.CacheScope.using { scope =>
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
        n = 3, threshold = 0.2, maxDf = 100, scope = scope)
      pairs.count() // the consuming action, inside the scope
      // the inverted index is cached while the scope is open
      assert(!spark.sharedState.cacheManager.isEmpty)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "operator caches must be released when the scope closes")
    // capBuckets through a scope likewise releases
    val vs = (0 until 10).map(i => (i.toLong, Array(1.0f, 1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    graft.ops.CacheScope.using { scope =>
      Dedup.cosineNearDupPairs(vs, "vec_id", col("embedding"),
        signBits = 3, threshold = 0.9, maxBucket = 100, scope = scope).count()
      assert(!spark.sharedState.cacheManager.isEmpty)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    // the default session scope keeps the cache (cleared here to leave
    // global state clean for other suites)
    Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), 3, 0.2, 100).count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    spark.sharedState.cacheManager.clearCache()
  }

  test("simhash banding: cap drops the degenerate bucket, disabled cap keeps it") {
    val docs = (0 until 1000).map(i => (i.toLong, "another identical corpus line for simhash"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHashSignatures(docs, "doc_id", col("text"))
    assert(Dedup.simHashPairs(sigs, "doc_id", 32, 3, maxBucket = 50).count() == 0)
    val few = Dedup.simHashSignatures(docs.limit(4), "doc_id", col("text"))
    assert(Dedup.simHashPairs(few, "doc_id", 32, 3).count() == 6)
  }

  test("cosine sign-bucket cap drops over-full buckets only") {
    // 200 vectors in bucket A (identical), 3 in bucket B (identical)
    val vs = ((0 until 200).map(i => (i.toLong, Array(1.0f, 1.0f, 0.5f))) ++
      (200 until 203).map(i => (i.toLong, Array(-1.0f, -1.0f, -0.5f))))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.cosineNearDupPairs(vs, "vec_id", col("embedding"),
      signBits = 3, threshold = 0.9, maxBucket = 100)
    // bucket A (size 200) dropped; bucket B (size 3) yields C(3,2) pairs
    assert(pairs.count() == 3)
    assert(pairs.agg(min(col("a"))).as[Long].head() >= 200L)
  }

  test("normalized exact dedup groups case/punct/whitespace variants") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "an unrelated document"),
      (5L, "¡Hello — world!")) // non-ASCII stripped before lowercasing
      .toDF("doc_id", "text")
    val dups = graft.ops.Dedup.exactNormalized(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(dups.toSeq == Seq((1L, 4L))) // keep_id = 1, all four variants
    val all = graft.ops.Dedup.exactNormalized(docs, "doc_id", col("text"),
      onlyDups = false)
    assert(all.count() == 2) // the dup group + the unrelated doc
    // the consumer half: survivors are the lowest id per group, full rows
    val kept = graft.ops.Dedup.dropNormalizedDups(docs, "doc_id", col("text"))
      .select("doc_id", "text").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("snapshotDiff: added/removed/changed, unchanged dropped, delta-sized") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    // identical snapshots diff to nothing
    assert(Dedup.snapshotDiff(oldSnap, oldSnap, "doc_id", col("text")).count() == 0)
  }

  test("capBuckets is a no-op when maxBucket <= 0") {
    val docs = (0 until 50).map(i => (i.toLong, s"doc $i has words ${i % 3}"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs, "doc_id", col("text"), n = 2, k = 8)
    val a = Dedup.lshCandidates(sigs, "doc_id", 8, 4, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.lshCandidates(sigs, "doc_id", 8, 4, maxBucket = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("thresholdSweep: binning, top-edge clamp, descending cumulative counts") {
    import spark.implicits._
    val pairs = Seq(0.12, 0.14, 0.5, 0.55, 0.99, 1.0)
      .zipWithIndex.map { case (s, i) => (i.toLong, i.toLong + 100, s) }
      .toDF("a", "b", "jaccard")
    val got = graft.ops.Dedup.thresholdSweep(pairs, "jaccard", bins = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((0.1, 2L, 6L)), // 0.12, 0.14; 6 pairs >= 0.1
      5L -> ((0.5, 2L, 4L)), // 0.5, 0.55
      9L -> ((0.9, 2L, 2L)))) // 0.99 and the clamped 1.0
  }

  test("minhashEval: counts candidates, truth, and hits exactly") {
    import graft.ops.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),                     // exact dups: true + candidate
      (3L, "one two three four five six seven"),
      (4L, "unrelated words entirely different here now")).toDF("id", "t")
    val row = Dedup.minhashEval(docs, "id", col("t"), n = 3, k = 8,
        rowsPerBand = 4, maxBucket = 1000L, threshold = 0.5, maxDf = 100)
      .collect().head
    val (nc, nt, nh) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nt === 1L, "exactly one true >=0.5 pair (the exact dup)")
    assert(nh === 1L, "identical signatures always share both bands")
    assert(nc >= 1L)
    assert(row.getLong(3) === 10000L / nc * 1L || row.getLong(3) === (nh * 10000L) / nc)
    assert(row.getLong(4) === 10000L)
  }

  test("span-cut memory guard: a document past MaxChunksPerDoc positions fails fast on every entry point") {
    // one more position than the guard allows: (MaxChunksPerDoc + n - 1)
    // tokens give MaxChunksPerDoc + 1 shingle positions
    val n = 8
    val huge = Seq.fill((Dedup.MaxChunksPerDoc + n).toInt)("w").mkString(" ")
    val docs = Seq((1L, "a small ordinary document with more than eight words in it"),
      (42L, huge)).toDF("doc_id", "text")
    // the reference shares a shingle with the huge document, so no join
    // side is empty and the incoming explode has to run
    val ref = Seq((7L, Seq.fill(n)("w").mkString(" "))).toDF("doc_id", "text")
    def failure(op: String)(run: CacheScope => DataFrame): Unit = {
      val e = intercept[Exception](CacheScope.using(sc => run(sc).collect()))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      val want = s"$op: more than ${Dedup.MaxChunksPerDoc} positions in doc 42"
      assert(msgs.exists(_.contains(want)), s"no '$want' in: ${msgs.mkString(" | ").take(600)}")
    }
    failure("spanCutDedup")(sc => Dedup.spanCutDedup(docs, "doc_id", col("text"), n, scope = sc))
    failure("spanCutAgainst")(sc =>
      Dedup.spanCutAgainst(docs, ref, "doc_id", col("text"), n, sc))
    failure("spanCutAgainstIndex")(sc => Dedup.spanCutAgainstIndex(docs,
      Dedup.spanIndexKeys(ref, col("text"), n), "doc_id", col("text"), n, sc))
  }
}

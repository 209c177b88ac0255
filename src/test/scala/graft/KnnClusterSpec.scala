package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Similarity}
import graft.queries.{Models, Tables}

/** kNN join must equal the window-rank form over the same multi-probe
  * candidate set; connected components must produce min-reachable-id
  * labels (including through chains) and refuse to ship unconverged. */
class KnnClusterSpec extends AnyFunSuite {

  import TestKit._
  import spark.implicits._

  // deterministic pseudo-random unit-ish vectors, 8 dims
  private def vecs = (0 until 120).map { i =>
    (i.toLong, Array.tabulate(8)(d =>
      (math.sin(i * 37 + d * 13) * 2).toFloat))
  }.toDF("vec_id", "embedding")

  test("knnJoin equals window-rank over the same probed candidate set") {
    val signBits = 4
    val knn = Similarity.knnJoin(vecs, "vec_id", "embedding",
      k = 3, signBits = signBits, probeHamming = 1)
      .select("qid", "id", "cos", "rank")

    // reference: same buckets/probes via explicit candidate construction
    val b = vecs.withColumn("__bkt",
      Similarity.signBucket(col("embedding"), signBits))
    val own = Similarity.signBucket(col("embedding"), signBits)
    val probes = array(own +: (0 until signBits).map(i =>
      own.bitwiseXOR(lit(1L << i)): org.apache.spark.sql.Column): _*)
    val q = vecs.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      explode(probes).as("__bkt"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    val ref = b.join(q, Seq("__bkt")).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("id"),
        Similarity.cosine(col("embedding"), col("qv")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
    assert(knn.collect().map(_.toSeq).toSet == ref.collect().map(_.toSeq).toSet)
    assert(knn.count() > 0)
  }

  test("knnJoin fail-fasts on a degenerate sign bucket, naming the " +
      "routing (r17: the near-dup drop contract does not transfer)") {
    // 100 identical vectors = one bucket of 100; 3 in another bucket
    val dup = ((0 until 100).map(i => (i.toLong, Array(1f, 1f, 1f, 1f))) ++
      (100 until 103).map(i => (i.toLong, Array(-1f, -1f, -1f, -1f))))
      .toDF("vec_id", "embedding")
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    val e = intercept[Exception] {
      Similarity.knnJoin(dup, "vec_id", "embedding",
        k = 2, signBits = 4, probeHamming = 0,
        maxBucketOccupancy = 50).count()
    }
    val msg = chain(e).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msg.contains("maxBucketOccupancy = 50"), msg.take(300))
    assert(msg.contains("signBits"), msg.take(300))
    // under-cap population passes every row through untouched
    val got = Similarity.knnJoin(dup, "vec_id", "embedding",
      k = 2, signBits = 4, probeHamming = 0, maxBucketOccupancy = 1000)
    val ref = Similarity.knnJoin(dup, "vec_id", "embedding",
      k = 2, signBits = 4, probeHamming = 0)
    assert(got.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("Int8Cos equals a hand fold over the quantized ints; zero norm is 0") {
    val in = Seq(
      (Array[Byte](127, -64, 0), Array[Byte](127, 127, 1)),
      (Array[Byte](0, 0, 0), Array[Byte](5, 5, 5))).toDF("a", "b")
    val got = in.select(graft.functions.Int8Cos(col("a"), col("b")))
      .as[Double].collect().toSeq
    val dot = 127.0 * 127 + (-64.0) * 127 + 0
    val exp = BigDecimal(dot / (math.sqrt(127.0 * 127 + 64.0 * 64) *
      math.sqrt(127.0 * 127 + 127.0 * 127 + 1)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(exp, 0.0))
    // length mismatch → null, like CosineSim
    val m = Seq((Array[Byte](1, 2), Array[Byte](1, 2, 3))).toDF("a", "b")
      .select(graft.functions.Int8Cos(col("a"), col("b"))).head
    assert(m.isNullAt(0))
    // mixed representations: packed BINARY against array<tinyint>
    val mixed = Seq(Array[Byte](127, -64, 0)).toDF("bin")
      .select(graft.functions.Int8Cos(col("bin"),
        array(lit(127).cast("byte"), lit(127).cast("byte"),
          lit(1).cast("byte")))).as[Double].head()
    assert(mixed == exp)
  }

  test("int8 coarse ranking tracks full-precision ranking on real vectors") {
    // quantized cosine within ~1e-2 of true cosine on every pair
    val q = Similarity.quantizeInt8(vecs, "embedding")
    val pairs = q.select(col("vec_id").as("a"), col("embedding").as("va"),
        col("qvec").as("qa"))
      .crossJoin(q.select(col("vec_id").as("b"), col("embedding").as("vb"),
        col("qvec").as("qb")))
      .filter(col("a") < col("b"))
      .select(
        Similarity.cosine(col("va"), col("vb")).as("fp"),
        graft.functions.Int8Cos(col("qa"), col("qb")).as("i8"))
      .select(max(abs(col("fp") - col("i8")))).head.getDouble(0)
    assert(pairs < 0.02, s"max |fp-int8| cosine gap $pairs")
  }

  test("knnJoinQuantized with a deep shortlist equals knnJoin exactly") {
    // coarseK >= the largest probed candidate set → the rerank sees every
    // candidate, so the quantized coarse stage cannot lose a neighbor and
    // the full-precision top-k must equal knnJoin's
    val plain = Similarity.knnJoin(vecs, "vec_id", "embedding",
      k = 3, signBits = 4, probeHamming = 1)
    val quant = Similarity.knnJoinQuantized(vecs, "vec_id", "embedding",
      k = 3, signBits = 4, probeHamming = 1, coarseK = 200)
    assert(quant.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
  }

  test("knnJoinQuantized at practical rerank depth loses almost nothing") {
    val plain = Similarity.knnJoin(vecs, "vec_id", "embedding",
      k = 3, signBits = 4, probeHamming = 1)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val quant = Similarity.knnJoinQuantized(vecs, "vec_id", "embedding",
      k = 3, signBits = 4, probeHamming = 1, coarseK = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (plain & quant).size.toDouble / plain.size
    assert(recall >= 0.95, s"recall $recall at coarseK=10")
  }

  // a small deterministic centroid model for the IVF-join tests: 4
  // spread-out fixture vectors, cid-sorted (every call site's contract)
  private def testCentroids: Seq[(Int, Array[Float])] =
    Seq(0, 7, 31, 90).map(i =>
      i -> Array.tabulate(8)(d => (math.sin(i * 37 + d * 13) * 2).toFloat))

  test("knnJoinIvf equals window-rank over the same probed cells") {
    val cents = testCentroids
    val knn = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2)
      .select("qid", "id", "cos", "rank")
    // reference: explicit assignment + probe construction, window rank
    val b = vecs.withColumn("__cell",
      Similarity.ivfCell(col("embedding"), cents))
    val q = vecs.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      explode(Similarity.ivfProbes(col("embedding"), cents, 2)).as("__cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    val ref = b.join(q, Seq("__cell")).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("id"),
        Similarity.cosine(col("embedding"), col("qv")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
    assert(knn.collect().map(_.toSeq).toSet == ref.collect().map(_.toSeq).toSet)
    assert(knn.count() > 0)
  }

  test("ivfProbes: best-first order, argmax prefix, zero vector takes the first n cids") {
    val cents = testCentroids
    val got = vecs.select(col("vec_id"),
        Similarity.ivfCell(col("embedding"), cents).as("own"),
        Similarity.ivfProbes(col("embedding"), cents, 3).as("probes"))
      .collect()
    got.foreach { r =>
      val probes = r.getSeq[Int](2)
      assert(probes.size === 3)
      assert(probes.head === r.getInt(1), s"probe[0] must be the argmax cell (vec ${r.getLong(0)})")
      assert(probes.distinct.size === 3)
    }
    // zero vector: every cosine NaN -> the first n centroids in cid order
    val z = Seq((0L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
      .select(Similarity.ivfProbes(col("embedding"), cents, 2)).head().getSeq[Int](0)
    assert(z === Seq(0, 7))
  }

  test("knnJoinIvf fail-fasts on an over-cap cell, naming the routing " +
      "(never silently drops it)") {
    val cents = testCentroids
    // all 120 fixture vectors spread over 4 cells: some cell holds >= 30
    // members, so maxCellOccupancy = 20 must trip the guard
    val e = intercept[Exception] {
      Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
        k = 3, centroids = cents, nProbe = 2,
        maxCellOccupancy = 20L).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    val msg = chain(e).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(msg.contains("maxCellOccupancy = 20"), msg.take(300))
    assert(msg.contains("cells proportional to corpus"), msg.take(300))
    // quantized variant rides the same guard
    val e2 = intercept[Exception] {
      Similarity.knnJoinIvfQuantized(vecs, "vec_id", "embedding",
        k = 3, centroids = cents, nProbe = 2, coarseK = 10,
        maxCellOccupancy = 20L).count()
    }
    assert(chain(e2).flatMap(t => Option(t.getMessage)).mkString("\n")
      .contains("maxCellOccupancy = 20"))
    // under-cap population passes every row through untouched
    val got = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2, maxCellOccupancy = 1000L)
    val ref = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2)
    assert(got.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  // ------------------------------------------------ hot-cell splitting

  test("refineHotCells: no hot cell is a sorted no-op; hot cells are " +
      "replaced by sub-cells that relieve the guard") {
    val cents = testCentroids
    // splitAbove above the whole corpus: nothing hot, list unchanged
    assert(Similarity.refineHotCells(vecs, "vec_id", "embedding",
      cents, splitAbove = 1000L, targetOcc = 10L) === cents.sortBy(_._1))
    // the existing guard fixture: some cell holds >= 30 of the 120
    // vectors, so maxCellOccupancy = 20 refuses the UNSPLIT index
    // (proven in the fail-fast test above); refining at the same
    // threshold must relieve it
    val refined = Similarity.refineHotCells(vecs, "vec_id", "embedding",
      cents, splitAbove = 20L, targetOcc = 10L)
    // hot parents are gone, their sub-cells sit at RefineOffset + seed
    val refinedIds = refined.map(_._1).toSet
    assert(refined.exists(_._1 >= Similarity.RefineOffset))
    val hotParents = cents.map(_._1).toSet -- refinedIds
    assert(hotParents.nonEmpty)
    assert(refined.map(_._1) === refined.map(_._1).sorted)
    // the refined index passes the exact guard the unsplit one tripped
    val got = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = refined, nProbe = 2, maxCellOccupancy = 20L)
    assert(got.count() > 0)
    spark.sharedState.cacheManager.clearCache()
  }

  test("refineHotCells: probing ALL refined cells equals brute force " +
      "(the refined index partitions the corpus)") {
    val refined = Similarity.refineHotCells(vecs, "vec_id", "embedding",
      testCentroids, splitAbove = 20L, targetOcc = 10L)
    val got = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = refined, nProbe = refined.size)
      .select("qid", "id", "cos", "rank")
    val ref = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 4)
      .filter(col("qid") =!= col("id"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("id").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select("qid", "id", "cos", "rank")
    assert(got.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("knnJoin split: full probe coverage equals brute force; high " +
      "threshold is a no-op; the degenerate bucket now completes " +
      "under its guard") {
    // signBits = 1 + Hamming 1 probes BOTH buckets; subProbes large
    // enough to cover every sub-cell -> candidates = whole corpus,
    // so split results must equal exact brute force
    val got = Similarity.knnJoin(vecs, "vec_id", "embedding",
      k = 3, signBits = 1, probeHamming = 1,
      splitAbove = 20L, splitTargetOcc = 10L, subProbes = 64)
      .select("qid", "id", "cos", "rank")
    val ref = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 4)
      .filter(col("qid") =!= col("id"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("id").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select("qid", "id", "cos", "rank")
    assert(got.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    // nothing hot -> identical to the unsplit op
    val a = Similarity.knnJoin(vecs, "vec_id", "embedding",
      k = 3, signBits = 4, probeHamming = 1, splitAbove = 10000L)
    val b = Similarity.knnJoin(vecs, "vec_id", "embedding",
      k = 3, signBits = 4, probeHamming = 1)
    assert(a.collect().map(_.toSeq).toSet === b.collect().map(_.toSeq).toSet)
    // a guard-tripping hot bucket WITH latent structure: 80 all-positive
    // vectors (one sign bucket at 4 bits) in two interleaved direction
    // clusters — the clustered-corpus regime the r17 sweep identified.
    // Unsplit, the bucket of 80 trips maxBucketOccupancy = 50; split at
    // the same threshold, the local fit separates the two directions
    // into sub-cells of ~40 and the SAME guard passes on refined keys.
    val hotStruct = ((0 until 80).map { i =>
      val v = if (i % 2 == 0) Array(1f, 0.1f, 0.1f, 0.1f)
      else Array(0.1f, 1f, 0.1f, 0.1f)
      (i.toLong, v.zipWithIndex.map { case (x, d) =>
        x + (math.sin(i * 7 + d) * 0.02).toFloat })
    } ++ (100 until 103).map(i => (i.toLong, Array(-1f, -1f, -1f, -1f))))
      .toDF("vec_id", "embedding")
    intercept[Exception] {
      Similarity.knnJoin(hotStruct, "vec_id", "embedding",
        k = 2, signBits = 4, probeHamming = 0,
        maxBucketOccupancy = 50).count()
    }
    val relieved = Similarity.knnJoin(hotStruct, "vec_id", "embedding",
      k = 2, signBits = 4, probeHamming = 0, maxBucketOccupancy = 50,
      splitAbove = 50L, splitTargetOcc = 40L, subProbes = 2)
    assert(relieved.count() > 0)
    // truly unsplittable mass (identical vectors) STILL fail-fasts:
    // geometry cannot separate exact duplicates — that is dedup's job,
    // and a silent pass here would hide the occupancy^2 scan
    val dup = ((0 until 100).map(i => (i.toLong, Array(1f, 1f, 1f, 1f))) ++
      (100 until 103).map(i => (i.toLong, Array(-1f, -1f, -1f, -1f))))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.knnJoin(dup, "vec_id", "embedding",
        k = 2, signBits = 4, probeHamming = 0, maxBucketOccupancy = 50,
        splitAbove = 50L, splitTargetOcc = 25L, subProbes = 2).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).flatMap(t => Option(t.getMessage)).mkString("\n")
      .contains("maxBucketOccupancy = 50"))
    spark.sharedState.cacheManager.clearCache()
  }

  test("knnJoinQuantized split: deep shortlist under full coverage " +
      "equals the unsplit deep-shortlist results") {
    val a = Similarity.knnJoinQuantized(vecs, "vec_id", "embedding",
      k = 3, signBits = 1, probeHamming = 1, coarseK = 119,
      splitAbove = 20L, splitTargetOcc = 10L, subProbes = 64)
      .select("qid", "id", "cos", "rank")
    val b = Similarity.knnJoinQuantized(vecs, "vec_id", "embedding",
      k = 3, signBits = 1, probeHamming = 1, coarseK = 119)
      .select("qid", "id", "cos", "rank")
    assert(a.collect().map(_.toSeq).toSet === b.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("ivfOccupancyReport: every centroid reported, empties zero, hot " +
      "rows carry the refineHotCells sub-cell count") {
    val withNull = vecs.unionByName(
      spark.range(900L, 910L).select(col("id").as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val rep = Similarity.ivfOccupancyReport(withNull, "embedding",
      testCentroids, guardAt = 20L, targetOcc = 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // one row per centroid, nulls excluded from every population
    assert(rep.keySet === testCentroids.map(_._1.toLong).toSet)
    assert(rep.values.map(_._1).sum === 120L)
    rep.values.foreach { case (n, hot, subk) =>
      if (n > 20) { assert(hot === 1L)
        assert(subk === math.max(2L, math.ceil(n / 10.0).toLong)) }
      else { assert(hot === 0L); assert(subk === 0L) }
    }
    // the report's hot set is exactly what refineHotCells splits
    val refined = Similarity.refineHotCells(vecs, "vec_id", "embedding",
      testCentroids, splitAbove = 20L, targetOcc = 10L)
    val hotCells = rep.filter(_._2._2 == 1L).keySet
    assert(refined.map(_._1.toLong).toSet.intersect(hotCells).isEmpty)
    assert(testCentroids.map(_._1.toLong).toSet -- hotCells ===
      refined.map(_._1.toLong).toSet.filter(_ < Similarity.RefineOffset))
    spark.sharedState.cacheManager.clearCache()
  }

  test("occupancy guard ignores the null-vector group (null keys never " +
      "feed the candidate join)") {
    // 70 null-vector rows would form a 70-deep NULL cell; the guard at
    // 60 must NOT fire on it (those rows drop out of the equi-join),
    // while every real cell holds <= 60 members (only 60 non-null rows
    // exist). r17 ADVICE: the old aggregate counted the null group and
    // fail-fasted on work that contributes zero scan.
    val withNulls = vecs.limit(60).unionByName(
      spark.range(1000L, 1070L).select(col("id").as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val got = Similarity.knnJoinIvf(withNulls, "vec_id", "embedding",
      k = 3, centroids = testCentroids, nProbe = 2,
      maxCellOccupancy = 60L)
    val ref = Similarity.knnJoinIvf(vecs.limit(60), "vec_id", "embedding",
      k = 3, centroids = testCentroids, nProbe = 2)
    assert(got.collect().map(_.toSeq).toSet === ref.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("knnJoinIvfQuantized with a deep shortlist equals knnJoinIvf exactly") {
    val cents = testCentroids
    val plain = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2)
    val quant = Similarity.knnJoinIvfQuantized(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2, coarseK = 120)
    assert(quant.collect().map(_.toSeq).toSet ===
      plain.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("two-level descent with ALL branches probed equals the flat " +
      "assignment and probe list exactly") {
    // 8 centroids, 3 branches: exhaustive descent (branchProbes = 3)
    // scores every fine centroid under the identical comparator, so
    // cell AND probe list must match the flat expressions bit-for-bit
    // — including the zero vector's all-NaN tie rule
    val cents = (0 until 8).map(i =>
      i * 3 -> Array.tabulate(8)(d => (math.cos(i * 41 + d * 7) * 2).toFloat))
    val (tops, fines) = Similarity.twoLevelIndex(cents, branches = 3)
    val withZero = vecs.unionByName(
      Seq((999L, Array.fill(8)(0f))).toDF("vec_id", "embedding"))
    val got = withZero.select(col("vec_id"),
      Similarity.ivfCell(col("embedding"), cents).as("flat"),
      Similarity.ivfCell2L(col("embedding"), tops, fines, 3).as("two"),
      Similarity.ivfProbes(col("embedding"), cents, 4).as("flatP"),
      Similarity.ivfProbes2L(col("embedding"), tops, fines, 3, 4).as("twoP"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"cell mismatch vec ${r.getLong(0)}")
      assert(r.getSeq[Int](3) === r.getSeq[Int](4),
        s"probe mismatch vec ${r.getLong(0)}")
    }
  }

  test("two-level index: tops are the lowest-cid centroids; every fine " +
      "assigns to its nearest top; partial descent stays within probed branches") {
    val cents = (0 until 8).map(i =>
      i * 3 -> Array.tabulate(8)(d => (math.cos(i * 41 + d * 7) * 2).toFloat))
    val (tops, fines) = Similarity.twoLevelIndex(cents, branches = 3)
    assert(tops.map(_._1) === Seq(0, 3, 6))
    assert(fines.map(_._1) === cents.map(_._1))
    assert(fines.forall(f => f._2 >= 0 && f._2 < 3))
    // a 1-branch descent can only return fines of the single best branch
    val byBranch = fines.groupBy(_._2).map { case (b, fs) =>
      b -> fs.map(_._1).toSet
    }
    val got = vecs.select(col("vec_id"),
      Similarity.ivfCell2L(col("embedding"), tops, fines, 1).as("cell"))
      .collect()
    got.foreach { r =>
      val cell = r.getInt(1)
      assert(byBranch.values.exists(_.contains(cell)))
    }
    // and the knnJoin2L with full probing equals knnJoinIvf exactly
    val flat = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2)
    val two = Similarity.knnJoinIvf2L(vecs, "vec_id", "embedding",
      k = 3, tops, fines, branchProbes = 3, nProbe = 2)
    assert(two.collect().map(_.toSeq).toSet === flat.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("fitted-tops + replicated fines: full descent still equals flat; " +
      "replica probe lists never repeat a cell") {
    val cents = (0 until 8).map(i =>
      i * 3 -> Array.tabulate(8)(d => (math.cos(i * 41 + d * 7) * 2).toFloat))
    val (tops, fines) =
      Similarity.twoLevelIndexFitted(cents, branches = 3, replicas = 2)
    assert(fines.size === cents.size * 2) // every fine registered twice
    // exhaustive descent: fitted tops and replicas cannot change the
    // result — the candidate set is every fine, deduped
    val got = vecs.select(col("vec_id"),
      Similarity.ivfCell(col("embedding"), cents).as("flat"),
      Similarity.ivfCell2L(col("embedding"), tops, fines, 3).as("two"),
      Similarity.ivfProbes(col("embedding"), cents, 4).as("flatP"),
      Similarity.ivfProbes2L(col("embedding"), tops, fines, 3, 4).as("twoP"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) === r.getInt(2))
      assert(r.getSeq[Int](3) === r.getSeq[Int](4))
    }
    // partial descent: probe lists stay duplicate-free despite replicas
    val probes = vecs.select(
      Similarity.ivfProbes2L(col("embedding"), tops, fines, 1, 4).as("p"))
      .collect()
    probes.foreach { r =>
      val p = r.getSeq[Int](0)
      assert(p.distinct.size === p.size, s"duplicate cell in probes $p")
    }
  }

  test("connected components: cliques, chains, singletons") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("a", "b")
    val vertices = (Seq(1L, 2L, 3L, 5L, 6L, 7L) ++ (10L to 14L)).toDF("id")
    val got = Dedup.connectedComponents(pairs, vertices, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L))
  }

  test("dropNearDups keeps the minimum id per cluster and all singletons") {
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("doc_id")
      .withColumn("payload", col("doc_id") * 10)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val kept = Dedup.dropNearDups(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 5L, 7L))
  }

  test("connectedComponentsIncremental == full recompute (random splits, property)") {
    import graft.ops.Dedup
    val rnd = new scala.util.Random(157L)
    for (round <- 0 until 3) {
      val nV = 40
      val pairs = (0 until 30).map { _ =>
        val a = rnd.nextInt(nV); val b = rnd.nextInt(nV)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2).distinct
      // arbitrary split: ~half the pairs are "standing", rest arrive as
      // the batch; vertices split so some batch endpoints are brand new
      val (oldP, newP) = pairs.partition(_ => rnd.nextBoolean())
      val oldVs = (0 until nV).filter(_ % 3 != round % 3).map(_.toLong)
      val newVs = (0L until nV.toLong).filterNot(oldVs.contains)
      // contract: standing pairs must be WITHIN the standing vertex set
      // (a real pipeline's old clustering never saw the batch) — route
      // boundary pairs to the batch instead
      val (oldIn, oldOut) = oldP.partition(p =>
        oldVs.contains(p._1) && oldVs.contains(p._2))
      val batch = (newP ++ oldOut).distinct
      val full = Dedup.connectedComponents(
        pairs.toDF("a", "b"), (0L until nV.toLong).toDF("id"), "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val standing = Dedup.connectedComponents(
        oldIn.toDF("a", "b"), oldVs.toDF("id"), "id")
      val inc = Dedup.connectedComponentsIncremental(standing,
        batch.toDF("a", "b"), newVs.toDF("id"), "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc === full, s"round=$round")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("connectedComponentsIncremental keeps endpoints listed nowhere else") {
    import graft.ops.Dedup
    // vertex 9 appears ONLY as a batch-pair endpoint (not in oldLabels,
    // not in newVertices): it must still come back, relabeled into the
    // merged component — and it can relabel others (1—9—5 merges the
    // {1,2} and {5} standing components through it)
    val standing = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("id", "cluster")
    val batch = Seq((1L, 9L), (9L, 5L)).toDF("a", "b")
    val got = Dedup.connectedComponentsIncremental(standing, batch,
        spark.emptyDataset[Long].toDF("id"), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 1L), (5L, 1L), (9L, 1L)))
    spark.sharedState.cacheManager.clearCache()
  }

  test("connected components throws instead of shipping unconverged labels") {
    // a diameter-4 chain cannot converge in one round
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("a", "b")
    val vertices = (10L to 14L).toDF("id")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, vertices, "id", maxIter = 1)
    }
  }

  test("connected components: deep chains converge in O(log diameter) rounds") {
    // the adversarial shape plain min-label propagation cannot handle:
    // boilerplate edited a little at a time, a≈b≈c≈… — three chains of
    // 1000 vertices each (diameter 999, 40x past the default maxIter of
    // 25 one-hop rounds), ids interleaved across chains (mod 3) and
    // PLACED so the minimum sits at the head of chain 0, the TAIL of
    // chain 1, and the MIDDLE of chain 2 — the min label must propagate
    // forward, backward, and in both directions at once. Label-edge
    // propagation from round 3 must collapse all three within the
    // default bound, to exactly the per-chain minimum id.
    val n = 1000
    val chains = Seq(0, 1, 2)
    // perm(c, i): position-in-chain i → rank of that vertex's id
    val perm = (c: Int, i: Int) => c match {
      case 0 => i             // min at head
      case 1 => n - 1 - i     // min at tail
      case _ => (i + n / 2) % n // min mid-chain
    }
    val ids = (c: Int, i: Int) => (perm(c, i).toLong * 3) + c
    val pairs = chains.flatMap(c =>
      (0 until n - 1).map(i => (ids(c, i), ids(c, i + 1)))).toDF("a", "b")
    val vertices = chains.flatMap(c => (0 until n).map(ids(c, _))).toDF("id")
    val got = Dedup.connectedComponents(pairs, vertices, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chains.foreach { c =>
      (0 until n).foreach(i => assert(got(ids(c, i)) == c.toLong,
        s"vertex ${ids(c, i)} of chain $c labeled ${got(ids(c, i))}, want $c"))
    }
  }

  test("kmeansStepInt8: cosine assignment, integer-exact sums, null vectors excluded") {
    // centroids: axis-aligned e0 and e1. Vectors near each axis assign
    // there; the quantized sums are exact hand-computable ints
    // (quantizeInt8: round(x·127/maxabs)).
    val df = Seq(
      (1L, Some(Array(1.0f, 0.1f))),  // → c0; q = [127, 13]
      (2L, Some(Array(0.5f, 0.0f))),  // → c0; q = [127, 0]
      (3L, Some(Array(0.0f, 2.0f))),  // → c1; q = [0, 127]
      (4L, Option.empty[Array[Float]])) // excluded
      .toDF("id", "v")
    val cents = Seq(0 -> Array(1.0f, 0.0f), 1 -> Array(0.0f, 1.0f))
    val got = Similarity.kmeansStepInt8(df, "v", cents)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(got == Map(
      0 -> ((2L, List(254L, 13L))),
      1 -> ((1L, List(0L, 127L)))))
  }

  test("kmeansStepInt8: equidistant vector ties to the lowest centroid id") {
    val df = Seq((1L, Array(1.0f, 1.0f))).toDF("id", "v")
    val cents = Seq(0 -> Array(1.0f, 0.0f), 1 -> Array(0.0f, 1.0f))
    val got = Similarity.kmeansStepInt8(df, "v", cents)
      .select("cluster").as[Int].collect().toList
    assert(got == List(0))
  }

  test("kmeansFitInt8: centroids move to their clusters, empty cluster keeps its seed, fixpoint idempotent") {
    // two tight clusters near axes, seeds off-center; one seed (c2)
    // points between them but loses every vector — it must survive
    // rounds unchanged (the empty-cell rule)
    val df = Seq(
      (1L, Array(1.0f, 0.05f)), (2L, Array(1.0f, -0.05f)),
      (3L, Array(0.05f, 1.0f)), (4L, Array(-0.05f, 1.0f)))
      .toDF("id", "v")
    val seeds = Seq(0 -> Array(1.0f, 0.3f), 1 -> Array(0.3f, 1.0f),
      2 -> Array(-1.0f, -1.0f))
    val fit1 = Similarity.kmeansFitInt8(df, "v", seeds, iters = 1)
    // driver-side reference for round 1: assignments are clear-cut, the
    // new centroid is the exact int8 sum cast to float
    def q(v: Array[Float]): Array[Long] = {
      val s = v.map(x => math.abs(x.toDouble)).max
      v.map(x => math.rint(x.toDouble * 127 / s).toLong)
    }
    val want0 = q(Array(1.0f, 0.05f)).zip(q(Array(1.0f, -0.05f)))
      .map { case (a, b) => (a + b).toFloat }
    val want1 = q(Array(0.05f, 1.0f)).zip(q(Array(-0.05f, 1.0f)))
      .map { case (a, b) => (a + b).toFloat }
    val m1 = fit1.toMap
    assert(m1(0).toList == want0.toList)
    assert(m1(1).toList == want1.toList)
    assert(m1(2).toList == seeds.toMap.apply(2).toList,
      "empty cluster keeps its previous centroid")
    // assignments are stable from round 1 on this fixture, so more
    // rounds are idempotent — the unrolled-oracle contract
    val fit3 = Similarity.kmeansFitInt8(df, "v", seeds, iters = 3)
    assert(fit3.map { case (c, a) => c -> a.toList } ==
      fit1.map { case (c, a) => c -> a.toList })
    spark.sharedState.cacheManager.clearCache()
  }

  test("pageRankInt: hand-computed fixed-point rounds, bit-exact, orphan keeps teleport mass only") {
    import graft.ops.Centrality
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("vec_id") // 9 is an orphan
    def run(iters: Int) = Centrality.pageRankInt(edges, nodes, "vec_id",
      iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: base 150e9; hub 1 takes 3 x 850e9, node 2 takes 850e9
    assert(run(1) == Map(
      1L -> 2700000000000L, 2L -> 1000000000000L,
      3L -> 150000000000L, 4L -> 150000000000L, 9L -> 150000000000L))
    // round 2 (hand): in(1) = 850e9 + 2x127.5e9; in(2) = 2295e9
    assert(run(2) == Map(
      1L -> 1255000000000L, 2L -> 2445000000000L,
      3L -> 150000000000L, 4L -> 150000000000L, 9L -> 150000000000L))
  }

  test("triangleCounts: exactly-once per triangle, dup/directed edges canonicalize, zeros kept") {
    import graft.ops.Centrality
    // K4 on {1,2,3,4} (4 triangles, 3 per vertex) + pendant 5-1 +
    // isolated 9; edges deliberately duplicated and both-direction
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val edges = (k4 ++ Seq((1L, 5L), (5L, 1L), (1L, 5L))).toDF("src", "dst")
    val nodes = (1L to 5L).map(identity).toSeq.union(Seq(9L)).toDF("id")
    val got = Centrality.triangleCounts(edges, nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 0L, 9L -> 0L))
    // a plain cycle has no triangles
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(Centrality.triangleCounts(cyc, nodes, "id")
      .agg(sum(col("n_triangles"))).head().getLong(0) == 0L)
  }

  test("hardNegatives: same-label twins excluded, nearest different-label wins, null labels out") {
    val items = Seq[(Long, Seq[Float], Option[Int])](
      (0L, Seq(1f, 1f, 1f, 0.2f), Some(1)), // anchor
      (2L, Seq(1f, 1f, 0.99f, 0.2f), Some(1)), // same-label twin: NOT a negative
      (4L, Seq(1f, 1f, 0.9f, 0.2f), Some(2)), // the hard negative
      (6L, Seq(1f, 1f, 0.5f, 0.2f), Some(2)), // a softer negative
      (8L, Seq(1f, 1f, 0.95f, 0.2f), None)) // unlabeled: can't serve
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.hardNegatives(items, "vec_id",
      "embedding", "label", k = 2, signBits = 4, probeHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    // anchor 0: rank1 = 4 (closest different label), rank2 = 6;
    // the same-label 2 and unlabeled 8 never appear
    assert(got((0L, 1L)) == 4L && got((0L, 2L)) == 6L)
    val negsOf0 = got.filter(_._1._1 == 0L).values.toSet
    assert(negsOf0 == Set(4L, 6L),
      "same-label twin 2 and unlabeled 8 are never 0's negatives")
    // the unlabeled vector is no anchor either
    assert(!got.keys.exists(_._1 == 8L))
  }

  test("labelPropagate: majority vote, vote ties to lowest label, uncovered queries absent") {
    val items = Seq[(Long, Seq[Float], Option[Int])](
      (0L, Seq(1f, 1f, 1f, 0.1f), Some(1)), // labeled refs
      (2L, Seq(1f, 1f, 0.9f, 0.1f), Some(2)),
      (4L, Seq(1f, 1f, 0.95f, 0.1f), Some(2)),
      (6L, Seq(-1f, -1f, -1f, -0.1f), Some(3)),
      (11L, Seq(1f, 1f, 0.97f, 0.1f), None), // 3 votes: 2x label2, 1x label1
      (13L, Seq(-1f, -1f, -0.9f, -0.1f), None), // near ref 6
      (15L, Seq(1f, -1f, 1f, -1f), None)) // no labeled cell at Hamming 0
      .toDF("vec_id", "embedding", "lbl")
    // majority among k=3 labeled neighbors
    val got = Similarity.labelPropagate(items, "vec_id", "embedding", "lbl",
      k = 3, signBits = 4, probeHamming = 0)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(11L) == ((2, 2L)), "two label-2 neighbors outvote label 1")
    assert(got(13L) == ((3, 1L)))
    assert(!got.contains(15L), "no labeled vector in the probed cell")
    // vote tie: k=2 keeps refs 0 (label 1) and the closer label-2 ref —
    // one vote each, tie resolves to the LOWER label
    val tied = Similarity.labelPropagate(items, "vec_id", "embedding", "lbl",
      k = 2, signBits = 4, probeHamming = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tied(11L) == 1, "1-1 vote tie goes to the lowest label")
  }

  test("kCore: peeling cascade to the exact core, directed dups canonicalize") {
    // K4 on {1,2,3,4} + a pendant chain 4-5-6 + a triangle {7,8,9}
    // hanging off 1 via edge 1-7. 3-core = exactly the K4: the chain
    // peels immediately; the triangle's degree-2 corners peel, which
    // drops 7 below 3 even though deg(7)=3 initially (cascade).
    val es = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (5, 6), (7, 8), (7, 9), (8, 9), (1, 7),
      (2, 1), (3, 1)) // directed duplicates must not inflate degrees
    val edges = es.toDF("src", "dst")
    val got = graft.ops.Centrality.kCore(edges, "node_id", k = 3)
      .collect().map(r => r.getAs[Number]("node_id").longValue ->
        r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=2 keeps K4, the triangle AND the 1-7 bridge (both ends stay
    // core members) — only the pendant chain peels
    val g2 = graft.ops.Centrality.kCore(edges, "node_id", k = 2)
      .collect().map(r => r.getAs[Number]("node_id").longValue ->
        r.getLong(1)).toMap
    assert(g2 === Map(1L -> 4L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      7L -> 3L, 8L -> 2L, 9L -> 2L))
    // empty core converges (everything peels)
    val g9 = graft.ops.Centrality.kCore(edges, "node_id", k = 9)
    assert(g9.count() === 0L)
  }

  // ------------------------------------------------ auto-routed geometry

  test("knnJoinIvfAuto: below the boundary the route is data-derived - " +
      "flat when nothing is hot (== plain knnJoinIvf), split_flat when " +
      "a cell exceeds splitAbove (== explicit refineHotCells + join)") {
    val cents = testCentroids
    // nothing hot: annRouteFor says flat and the auto output IS the
    // plain flat join's (the refinement is the identity)
    assert(Similarity.annRouteFor(vecs, "embedding", cents,
      splitAbove = 1000L) === "flat")
    val autoCold = Similarity.knnJoinIvfAuto(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2,
      splitAbove = 1000L, targetOcc = 10L)
    val flat = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2)
    assert(autoCold.collect().map(_.toSeq).toSet ===
      flat.collect().map(_.toSeq).toSet)
    // a hot cell: the split arm engages and equals the explicit
    // refine-then-join composition (q169's registered machinery)
    assert(Similarity.annRouteFor(vecs, "embedding", cents,
      splitAbove = 20L) === "split_flat")
    val autoHot = Similarity.knnJoinIvfAuto(vecs, "vec_id", "embedding",
      k = 3, centroids = cents, nProbe = 2,
      splitAbove = 20L, targetOcc = 10L)
    val refined = Similarity.refineHotCells(vecs, "vec_id", "embedding",
      cents, splitAbove = 20L, targetOcc = 10L)
    val split = Similarity.knnJoinIvf(vecs, "vec_id", "embedding",
      k = 3, centroids = refined, nProbe = 2)
    assert(autoHot.collect().map(_.toSeq).toSet ===
      split.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("knnJoinIvfAuto: past the cell boundary the DESCENT runs - " +
      "output equals knnJoinIvf2L over the same derived index (the " +
      "flat path never runs past the boundary)") {
    // 16 cells with the boundary overridden to 16: the route crosses
    val cents16 = (0 until 128 by 8).map(i =>
      i -> Array.tabulate(8)(d => (math.sin(i * 37 + d * 13) * 2).toFloat))
    assert(Similarity.annRouteFor(vecs, "embedding", cents16,
      splitAbove = 1000L, twoLevelAtCells = 16) === "two_level")
    val auto = Similarity.knnJoinIvfAuto(vecs, "vec_id", "embedding",
      k = 3, centroids = cents16, nProbe = 4,
      splitAbove = 1000L, targetOcc = 10L, twoLevelAtCells = 16)
    val (tops, fines) = Similarity.twoLevelIndexFitted(cents16,
      branches = Similarity.twoLevelBranches(cents16.size),
      iters = 2, replicas = 2)
    val twin = Similarity.knnJoinIvf2L(vecs, "vec_id", "embedding",
      k = 3, tops, fines, branchProbes = 3, nProbe = 4)
    assert(auto.collect().map(_.toSeq).toSet ===
      twin.collect().map(_.toSeq).toSet)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q177 == q166 at fixture scale: the registered router's descent " +
      "arm IS the registered two-level join (one truth, two plans), and " +
      "the route provably reads two_level at the lowered boundary") {
    val dir = "/root/testdata/sf0.001"
    val cents = Models.registeredCentroids(spark, dir)
    // q177's boundary knob (IvfCells = 32) vs the q166-base fitted list:
    // the route is a driver-side size check — no corpus job
    assert(Similarity.annRouteFor(
      Tables.cpuTable(spark, dir, "embeddings"), "embedding",
      (0 until 32).map(i => i -> Array(i.toFloat, 1f)),
      splitAbove = Long.MaxValue, twoLevelAtCells = 32) === "two_level")
    val a = SparkEntry.queries("q177_knn_auto_two_level")(spark, dir)
      .collect().map(_.toSeq).toSet
    val b = SparkEntry.queries("q166_knn_two_level")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a.nonEmpty)
    assert(cents.size >= 2) // fixture sanity for the registered family
    spark.sharedState.cacheManager.clearCache()
  }

  test("twoLevelBranches: the sqrt(2 cells) rule, clamped to [2, cells]") {
    assert(Similarity.twoLevelBranches(2) === 2)
    assert(Similarity.twoLevelBranches(32) === 8)
    assert(Similarity.twoLevelBranches(10000) === 141)
    assert(Similarity.twoLevelBranches(3) === 2) // round(sqrt(6))=2
  }
}

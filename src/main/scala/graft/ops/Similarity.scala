package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  * Two physical shapes:
  *  - [[bruteForceTopK]]: broadcast the (small) query set, one pass over
  *    the corpus, per-query top-k via window rank. Exact; the baseline.
  *    At 100 TB the corpus side stays partition-parallel and the only
  *    shuffle is the final per-query top-k (tiny after the rank filter
  *    — a per-partition `LIMIT`-style pushdown happens via the window's
  *    partial sort on each mapper... rank runs post-shuffle, so the
  *    shuffle carries candidate rows only; see lshTopK for the pruned
  *    variant).
  *  - [[lshTopK]]: sign-bit LSH bucketing (coordinate hyperplanes) —
  *    queries probe only their own bucket, so the scanned fraction drops
  *    ~2^signBits×. Approximate; the scale path.
  *
  * All math is Column expressions (`zip_with`/`aggregate` higher-order
  * functions, codegen'd) in double precision, rounded to 6 dp so results
  * are stable across engines for oracle comparison.
  */
object Similarity {

  /** [[mmrSelect]]'s pick-count bound: the distributed chain launches
    * ~3 Spark jobs per pick, measured super-linear at deployment pick
    * counts (ScaleProbe `mmr_deploy`, exponent 1.26 at k→100) next to
    * the flat [[mmrSelectLocal]] (0.37, 66× faster at k=100). 25 keeps
    * the audit/congruity use (every registered query picks ≤ 10) while
    * refusing the regime where the job-launch overhead dominates. */
  val MmrDistributedMaxK = 25

  /** Dot product of two float arrays in double precision (higher-order
    * function form — interpreted lambda per element). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm in double precision (HOF form). */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity via higher-order functions — kept as the readable
    * reference implementation; bit-identical to [[cosine]]. */
  def cosineHof(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Cosine similarity, rounded to 6 dp (cross-engine stability).
    * Backed by the codegen'd [[graft.functions.CosineSim]] expression —
    * ~20× faster than the HOF form on all-pairs workloads (HOF lambdas
    * evaluate interpreted, outside whole-stage codegen) with identical
    * results (same sequential double fold). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** Symmetric per-vector int8 quantization — the standard 4× memory/IO
    * shrink for an ANN corpus (float32 → int8 + one float scale per
    * vector; IVF/HNSW deployments at the 100 TB tier ship quantized
    * vectors and rerank survivors against full precision). Each vector
    * gets `scale = max |v_i|` and `q_i = round(v_i · 127 / scale)`
    * (HALF_UP — both engines round doubles away from zero), so every
    * component lands in [−127, 127]; an all-zero vector quantizes to
    * zeros with scale 0 rather than NaN. One narrow per-row projection,
    * no shuffle, no state: one codegen call per row
    * ([[graft.functions.QuantizeInt8]], the loop
    * [[graft.functions.Int8Quant]] shares with the JL projection and the
    * k-means update); the arithmetic is double-precision with a fixed
    * operation order (`(v · 127) / scale`, max over double-widened
    * floats) so an external engine replays the exact same doubles
    * bit-for-bit. A NaN or infinite component fails the query.
    *
    * Output: the input columns plus `scale` (double) and `qvec`
    * (array<byte>). Downstream dot products are exact int arithmetic
    * (≤ 127²·dims fits a long); `cos(q_a, q_b)` approximates
    * `cos(a, b)` to ~1e-2 — rerank the short list at full precision
    * where that matters. */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__q8", graft.functions.QuantizeInt8Fn(col(vecCol)))
      .withColumn("scale", col("__q8.scale"))
      .withColumn("qvec", col("__q8.qvec"))
      .drop("__q8")

  /** Reduce scored candidates to per-query top-k via the bounded-heap
    * [[graft.functions.TopKAggregator]]: partial aggregation trims each
    * map task's slice to k rows BEFORE the shuffle, so the exchange
    * carries k × tasks rows — not the whole scored corpus like a
    * window-rank would. Ties broken by ascending id (deterministic). */
  private def topKReduce(scored: DataFrame, itemId: String, k: Int): DataFrame = {
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKHash.topK(
        col(itemId).cast("long"), col("cos"), k).as("__tk"))
      .select(col("qid"), posexplode(col("__tk")).as(Seq("__pos", "__s")))
      .select(col("qid"), col("__s.id").as("id"), col("__s.score").as("cos"),
        (col("__pos") + 1).cast("long").as("rank"))
  }

  /** Exact top-k nearest neighbours by cosine for each query vector.
    * `queries` is expected to be small (it is broadcast); ties broken by
    * ascending item id so results are total-ordered and deterministic.
    * Output: qid, id, cos, rank. */
  def bruteForceTopK(
      items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val joined = items.crossJoin(
      broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("__qv"))))
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    topKReduce(joined, itemId, k)
  }

  /** Window-rank form of [[bruteForceTopK]] — same results; shuffles all
    * scored rows (kept for comparison and for rank-window semantics). */
  def bruteForceTopKWindow(
      items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val joined = items.crossJoin(
      broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("__qv"))))
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col(itemId).asc)
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(itemId).as("id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** IVF (inverted-file) approximate top-k: the corpus is partitioned
    * into Voronoi cells around `centroids` (by cosine, ties to the lowest
    * centroid id), and each query probes only its `nProbe` nearest cells.
    * Scanned fraction ≈ nProbe / |centroids|, tunable independently of
    * the data's sign structure — the complement to [[lshTopK]].
    *
    * `centroids` is a MODEL PARAMETER (driver-side, like the broadcast
    * query set): production trains it offline (k-means over a sample) and
    * passes it in; tests/oracles pick deterministic corpus vectors so the
    * assignment is reproducible cross-engine. Cell assignment is a chain
    * of codegen cosine expressions against centroid literals — one
    * narrow pass over the corpus, NO shuffle (an argmax-by-join would
    * shuffle the whole corpus once per run; at ingest time a real
    * deployment would persist `__cid` as a partition column and prune
    * probed cells at the scan). Items land in exactly one cell and a
    * query's probe list is distinct, so no dedup pass is needed.
    * Output: qid, id, cos, rank. */
  def ivfTopK(
      items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      centroids: Seq[(Int, Array[Float])], k: Int, nProbe: Int): DataFrame = {
    require(centroids.size >= 2 && nProbe >= 1 && nProbe <= centroids.size,
      s"need >=2 centroids and 1 <= nProbe <= ${centroids.size}")
    val assigned = items.withColumn("__cid",
      nearestCentroid(col(itemVec), centroids))
    // probe list: nProbe nearest centroids per query (query side is tiny)
    val spark = queries.sparkSession
    import spark.implicits._
    val cdf = centroids.toDF("__cid", "__cvec")
    val probes = queries.select(col(queryId).as("qid"), col(queryVec).as("__qv"))
      .crossJoin(cdf)
      .withColumn("__cc", cosine(col("__qv"), col("__cvec")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("__cc").desc, col("__cid").asc)))
      .filter(col("__rn") <= nProbe)
      .select(col("qid"), col("__qv"), col("__cid"))
    val joined = assigned.join(broadcast(probes), Seq("__cid"))
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    topKReduce(joined, itemId, k)
  }

  /** Approximate k-nearest-neighbor JOIN: top-k neighbors for EVERY item
    * (vs [[lshTopK]]'s broadcast-small query set) — the shape behind
    * near-dup clustering, diversity sampling, and kNN-graph construction
    * over a whole corpus. Both sides are the corpus: queries fan out to
    * their multi-probe buckets (own + Hamming-1 when `probeHamming = 1`,
    * i.e. `signBits + 1` rows per item), items sit in their own bucket,
    * and the candidate join is a shuffle equi-join on the bucket key —
    * never all-pairs. Per-query top-k runs through the bounded-heap
    * aggregator, so the post-join shuffle carries k rows per task per
    * query. Self-pairs are excluded.
    *
    * `maxBucketOccupancy` FAIL-FASTS when any sign bucket's item
    * population exceeds it (r17, [[guardSignOccupancy]]: an over-full
    * sign bucket is a popular region of embedding space — the silent
    * drop these ops inherited from the near-dup band cap removed its
    * members from every query's candidate set; 0 disables).
    *
    * `splitAbove` > 0 engages the r18 SKEW KNOB before the guard:
    * buckets whose population exceeds it are split into locally-fitted
    * sub-cells ([[fitHotSubCentroids]] — ⌈population/splitTargetOcc⌉
    * sub-centroids each), members re-key to their nearest sub-cell and
    * queries probing a split bucket route to their `subProbes` best
    * sub-cells. This is the knob for the regime the r17 sweep
    * identified — scaled bits bound the MEAN occupancy but a clustered
    * corpus's HOT bucket still trips the guard (mean ~7, hot > 1000 at
    * 30×). Recall contract: within a split bucket a true neighbor
    * survives iff it shares one of the query's subProbes sub-cells
    * (RecallSweep measures the trade; `splitIters = 2` is the measured
    * sub-fit depth knee — see [[refineHotCells]]); the guard then
    * applies to the REFINED keys, so a genuinely unsplittable hot spot
    * still fail-fasts. Output: qid, id, cos, rank. */
  def knnJoin(items: DataFrame, itemId: String, itemVec: String,
      k: Int, signBits: Int, probeHamming: Int = 1,
      maxBucketOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session,
      splitAbove: Long = 0L, splitTargetOcc: Long = 64L,
      subProbes: Int = 2, splitIters: Int = 2): DataFrame = {
    val rawItems = items.select(col(itemId), col(itemVec),
      signBucket(col(itemVec), signBits).as("__bkt"))
    val probes = hammingProbes(signBucket(col(itemVec), signBits),
      signBits, probeHamming)
    val rawQueries = items.select(col(itemId).as("qid"),
      col(itemVec).as("__qv"), explode(probes).as("__bkt"))
    val (refItems, refQueries) =
      if (splitAbove <= 0L) (rawItems, rawQueries)
      else splitHotKeyed(rawItems, itemId, itemVec, rawQueries, "__qv",
        splitAbove, splitTargetOcc, subProbes, iters = splitIters,
        scope = scope)
    val bucketed = guardSignOccupancy(refItems,
      "knnJoin", maxBucketOccupancy, scope)
    val joined = bucketed.join(refQueries, Seq("__bkt"))
      .filter(col("qid") =!= col(itemId))
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    topKReduce(joined, itemId, k)
  }

  /** [[knnJoin]] with quantized coarse scoring + full-precision rerank —
    * the production ANN shape at the 100 TB tier, closing the loop
    * [[quantizeInt8]] opens: the candidate join (the hot loop — up to
    * (signBits+1)× corpus rows meeting bucket populations) carries and
    * scores ONLY the int8 vectors via the codegen
    * [[graft.functions.Int8Cos]] (¼ the memory traffic of float32, exact
    * long accumulators), keeps the best `coarseK ≥ k` candidates per
    * query through the bounded-heap aggregator, and only then pays for
    * full precision: the float32 vectors are equi-joined back onto the
    * shortlist — nQueries·coarseK rows, not the candidate explosion —
    * and re-scored with [[cosine]] for the final top-k.
    *
    * Approximation semantics: buckets bound recall exactly as in
    * [[knnJoin]]; additionally a true neighbor can be lost only if the
    * quantized cosine demotes it below coarse rank `coarseK` — at int8
    * resolution the quantized cosine sits within ~1e-2 of the true one,
    * so `coarseK` of 3-5× k recovers effectively all of them (the
    * classic rerank-depth knob). Scales cancel in the cosine, so the
    * coarse score needs no dequantization. Deterministic end to end:
    * both stages' ties break by ascending id, and the quantized scores
    * are cross-engine bit-exact (integer sums below 2^53; see
    * [[graft.functions.Int8Cos]]).
    *
    * Output: qid, id, cos (full-precision, 6 dp), rank — [[knnJoin]]'s
    * exact shape, so the two are drop-in interchangeable. */
  def knnJoinQuantized(items: DataFrame, itemId: String, itemVec: String,
      k: Int, signBits: Int, probeHamming: Int = 1, coarseK: Int,
      maxBucketOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session,
      splitAbove: Long = 0L, splitTargetOcc: Long = 64L,
      subProbes: Int = 2, splitIters: Int = 2): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val quant = scope.cache(
      quantizeInt8(items.select(col(itemId), col(itemVec)), itemVec))
    val probes = hammingProbes(signBucket(col(itemVec), signBits),
      signBits, probeHamming)
    // split mode carries the float vector through the re-keying (the
    // sub-cell scoring is full-precision like the fit) and drops it
    // after — the candidate hot loop stays int8-only either way
    val (refItems, refQueries) =
      if (splitAbove <= 0L)
        (quant.select(col(itemId), col("qvec").as("__iq"),
          signBucket(col(itemVec), signBits).as("__bkt")),
          quant.select(col(itemId).as("qid"), col("qvec").as("__qq"),
            explode(probes).as("__bkt")))
      else {
        val (ri, rq) = splitHotKeyed(
          quant.select(col(itemId), col("qvec").as("__iq"), col(itemVec),
            signBucket(col(itemVec), signBits).as("__bkt")),
          itemId, itemVec,
          quant.select(col(itemId).as("qid"), col("qvec").as("__qq"),
            col(itemVec).as("__qv"), explode(probes).as("__bkt")),
          "__qv", splitAbove, splitTargetOcc, subProbes,
          iters = splitIters, scope = scope)
        (ri.drop(itemVec), rq.drop("__qv"))
      }
    val bucketed = guardSignOccupancy(refItems,
      "knnJoinQuantized", maxBucketOccupancy, scope)
    val queries = refQueries
    val coarse = bucketed.join(queries, Seq("__bkt"))
      .filter(col("qid") =!= col(itemId))
      .withColumn("cos", graft.functions.Int8Cos(col("__iq"), col("__qq")))
    val shortlist = topKReduce(coarse, itemId, coarseK).select("qid", "id")
    val fpItem = quant.select(col(itemId).cast("long").as("id"),
      col(itemVec).as("__iv"))
    val fpQuery = quant.select(col(itemId).cast("long").as("qid"),
      col(itemVec).as("__qv"))
    val reranked = shortlist.join(fpItem, "id").join(fpQuery, "qid")
      .withColumn("cos", cosine(col("__iv"), col("__qv")))
    topKReduce(reranked, "id", k)
  }

  /** [[knnJoin]] with a FITTED IVF coarse quantizer instead of sign-LSH
    * cells — the registered ANN default shape since the measured sweep
    * (SCALING.md "ANN recall sweep") showed sign-LSH on sign-unstable
    * embeddings buys 84% recall only by scanning 11/16 of all cells,
    * while fitted centroids ([[kmeansFitInt8]]) give comparable recall
    * at materially lower scanned fraction: items are assigned to their
    * nearest centroid (one codegen projection,
    * [[graft.functions.NearestCentroid]] — no shuffle), queries fan out
    * to their `nProbe` nearest centroids
    * ([[graft.functions.NearestCentroids]] — a per-row top-n against
    * the centroid literals, NOT a corpus-sized row_number window), and
    * the candidate join is a shuffle equi-join on the cell id. Per-query
    * top-k rides the bounded-heap aggregator; self-pairs are excluded;
    * null vectors drop out on both sides (null cell / null probe list).
    * `maxCellOccupancy` FAIL-FASTS when any cell's item population
    * exceeds it (see [[guardCellOccupancy]] — an over-full IVF cell is
    * a popular region of embedding space, and the r16 30× probe showed
    * the previous LSH-style drop-the-bucket cap silently removing its
    * members from every query's candidate set; 0 disables). Recall
    * contract: a true neighbor is found iff its cell is among the
    * query's `nProbe` probes — the classic IVF knob, re-measure with
    * [[annRecall]]'s harness after moving it. Output: qid, id, cos,
    * rank ([[knnJoin]]'s exact shape — drop-in). */
  def knnJoinIvf(items: DataFrame, itemId: String, itemVec: String,
      k: Int, centroids: Seq[(Int, Array[Float])], nProbe: Int,
      maxCellOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(centroids.size >= 2 && nProbe >= 1 && nProbe <= centroids.size,
      s"need >=2 centroids and 1 <= nProbe <= ${centroids.size}")
    val bucketed = guardCellOccupancy(
      items.select(col(itemId), col(itemVec),
        nearestCentroid(col(itemVec), centroids).as("__cell")),
      maxCellOccupancy, scope)
    val queries = items.select(col(itemId).as("qid"), col(itemVec).as("__qv"),
      explode(graft.functions.NearestCentroidsFn(
        col(itemVec), centroids, nProbe)).as("__cell"))
    val joined = bucketed.join(queries, Seq("__cell"))
      .filter(col("qid") =!= col(itemId))
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    topKReduce(joined, itemId, k)
  }

  /** [[knnJoinIvf]] with quantized coarse scoring + full-precision
    * rerank — [[knnJoinQuantized]]'s int8 hot loop on the fitted-IVF
    * cells: the candidate join carries only int8 vectors scored by the
    * codegen [[graft.functions.Int8Cos]], the bounded heap keeps
    * `coarseK ≥ k` per query, and the float32 rerank joins back onto
    * the nQueries·coarseK shortlist. Same approximation semantics as
    * [[knnJoinQuantized]] (cells bound recall; int8 demotion bounded by
    * rerank depth), same output shape: qid, id, cos, rank. */
  def knnJoinIvfQuantized(items: DataFrame, itemId: String, itemVec: String,
      k: Int, centroids: Seq[(Int, Array[Float])], nProbe: Int, coarseK: Int,
      maxCellOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    require(centroids.size >= 2 && nProbe >= 1 && nProbe <= centroids.size,
      s"need >=2 centroids and 1 <= nProbe <= ${centroids.size}")
    val quant = scope.cache(
      quantizeInt8(items.select(col(itemId), col(itemVec)), itemVec))
    val bucketed = guardCellOccupancy(
      quant.select(col(itemId), col("qvec").as("__iq"),
        nearestCentroid(col(itemVec), centroids).as("__cell")),
      maxCellOccupancy, scope)
    val queries = quant.select(col(itemId).as("qid"), col("qvec").as("__qq"),
      explode(graft.functions.NearestCentroidsFn(
        col(itemVec), centroids, nProbe)).as("__cell"))
    val coarse = bucketed.join(queries, Seq("__cell"))
      .filter(col("qid") =!= col(itemId))
      .withColumn("cos", graft.functions.Int8Cos(col("__iq"), col("__qq")))
    val shortlist = topKReduce(coarse, itemId, coarseK).select("qid", "id")
    val fpItem = quant.select(col(itemId).cast("long").as("id"),
      col(itemVec).as("__iv"))
    val fpQuery = quant.select(col(itemId).cast("long").as("qid"),
      col(itemVec).as("__qv"))
    val reranked = shortlist.join(fpItem, "id").join(fpQuery, "qid")
      .withColumn("cos", cosine(col("__iv"), col("__qv")))
    topKReduce(reranked, "id", k)
  }

  /** Fail-fast occupancy guard for IVF cell populations — the
    * [[StringSim.editDistanceJoin]] `maxBandOccupancy` discipline
    * applied to the coarse quantizer, replacing the [[Dedup.capBuckets]]
    * drop these joins inherited from the LSH family. The contracts
    * differ: an over-full LSH BAND bucket is a set of already-known
    * near-identical docs (dropping it loses only redundant candidate
    * pairs), but an over-full IVF CELL is just a popular region of
    * embedding space — dropping it silently removes its members from
    * every query's candidate set (caught by the r16 30× probe,
    * SCALING.md "cap-masking catch": output shrank to the under-cap
    * cells while the run read as a clean timing). Past the bound the
    * job raises with the routing instead of degrading: grow the cell
    * count ∝ corpus (holds occupancy constant — measured exponent 0.54
    * vs 1.07 at fixed cells) and fit the quantizer on a hash sample
    * ([[kmeansFitInt8]]'s `fitFraction`).
    *
    * Cost shape (same as the cap it replaces): the assigned input is
    * cached once through `scope` (it feeds both the occupancy aggregate
    * and the candidate join), the occupancy table is cells-sized and
    * broadcast, and the guard rides the occupancy table's JOIN KEY (the
    * rangeJoin trick — column pruning cannot drop the raise_error). */
  private def guardCellOccupancy(assigned: DataFrame, maxCellOccupancy: Long,
      scope: CacheScope): DataFrame =
    guardOccupancy(assigned, "__cell", maxCellOccupancy, scope,
      "knnJoinIvf", "IVF cell", "maxCellOccupancy",
      "Grow the cell count with the corpus (cells proportional to" +
        " corpus holds occupancy constant) and fit the quantizer on a" +
        " hash sample (kmeansFitInt8 fitFraction); if only a FEW cells" +
        " are hot (skew, not undersized geometry), split them locally" +
        " with refineHotCells; raise maxCellOccupancy only with the" +
        " occupancy^2 scan budget costed.")

  /** The sign-LSH kNN family's instance of the same discipline: an
    * over-full SIGN bucket is a popular region too (the cap these ops
    * inherited was written for near-dup BAND buckets, where an
    * over-full bucket means already-known near-identical docs — the
    * r16/r17 cap-masking lesson, extended here before it bites). */
  private def guardSignOccupancy(assigned: DataFrame, opName: String,
      maxOccupancy: Long, scope: CacheScope): DataFrame =
    guardOccupancy(assigned, "__bkt", maxOccupancy, scope,
      opName, "sign bucket", "maxBucketOccupancy",
      "Grow signBits with the corpus (occupancy is n/2^bits - the" +
        " scaled-bits discipline, measured in SCALING.md), route" +
        " through the fitted-IVF family (knnJoinIvf, cells" +
        " proportional to corpus), or - when only a FEW buckets are" +
        " hot - split them locally (splitAbove on this op); raise" +
        " maxBucketOccupancy only with the occupancy^2 scan budget" +
        " costed.")

  private def guardOccupancy(assigned: DataFrame, keyCol: String,
      maxOccupancy: Long, scope: CacheScope, opName: String,
      unit: String, knob: String, routing: String): DataFrame =
    if (maxOccupancy <= 0) assigned
    else {
      val b = scope.cache(assigned)
      val keyType = assigned.schema(keyCol).dataType
      val boom = raise_error(concat(
        lit(s"$opName: $unit "), col(keyCol).cast("string"),
        lit(" holds "), col("__occ").cast("string"),
        lit(s" vectors (> $knob = $maxOccupancy): an over-full $unit" +
          " is a popular region of embedding space, not a bucket of" +
          " near-duplicates - dropping it would silently remove its" +
          " members from every query's candidate set. " + routing)))
        .cast(keyType)
      // null keys (null vectors) are EXCLUDED from the occupancy
      // aggregate: the candidate equi-join drops them, so they can
      // never join any probe — counting them would fail-fast on a
      // group that contributes zero scan work (r17 ADVICE)
      val occ = b.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol)).agg(count(lit(1)).as("__occ"))
        .select(when(col("__occ") > maxOccupancy, boom)
          .otherwise(col(keyCol)).as(keyCol))
      b.join(broadcast(occ), Seq(keyCol))
    }

  // ------------------------------------------------------------------
  // Hot-cell / hot-bucket SPLITTING — the skew knob (r18, verdict task
  // 2). Scaled cells/bits bound the MEAN occupancy; on clustered
  // embeddings the HOT cell is what the guard fires on (r17 sweep:
  // knn_join_scaled_bits refused at 30× with mean occupancy ~7). The
  // split fits sub-centroids LOCALLY on an over-cap group's members
  // (Lloyd restricted to the group — the twoLevelIndexFitted branch
  // locality, but data-driven: only where the data is hot), reassigns
  // the group's members to their nearest sub-centroid, and routes
  // queries probing a split group to their best sub-cells. Everything
  // stays oracle-unrollable: occupancy is a GROUP BY, the sub-fit is
  // the kmeansFitCtes arithmetic keyed by (parent, seed), and sub-ids
  // are the seed vector ids offset by [[RefineOffset]].
  // ------------------------------------------------------------------

  /** Sub-cell ids are `RefineOffset + seedVectorId` — disjoint from
    * every parent cell/bucket id (cells are sampled vector ids < 2^30;
    * sign buckets are < 2^signBits) and deterministic cross-engine
    * (the seed id IS the identity). Corpora whose vector ids reach
    * 2^30 renumber before splitting (enforced). */
  val RefineOffset: Long = 1L << 30

  /** Grouped local Lloyd fit for the members of over-occupancy groups.
    * `assigned` carries (`idCol`, `vecCol`, `keyCol`: long). A group
    * with population > `splitAbove` becomes HOT and gets
    * `max(2, ⌈population / targetOcc⌉)` sub-centroids, seeded by its
    * lowest-id members and refined by `iters` Lloyd rounds restricted
    * to the group (assignment = round-6 cosine argmax over the PARENT's
    * sub-centroids — one broadcast join + hash argmax per round, never
    * a per-group driver loop; update = the [[kmeansStepInt8]]
    * integer-exact int8 component sums; empty sub-cluster keeps its
    * seed). Returns (hot group → subk, sub-centroids as (parentKey,
    * seedId, vector)). Model-sized collects only: the occupancy table
    * is groups-sized, the sub-centroid table Σsubk-sized.
    *
    * Cost shape: each fit round joins hot members × their parent's
    * subk — Σ population²/targetOcc over hot groups. That is the skew
    * regime's budget by construction (few popular groups); when MANY
    * groups run hot the corpus has outgrown its geometry and the
    * routing is more cells/bits, not more splitting. */
  private def fitHotSubCentroids(assigned: DataFrame, idCol: String,
      vecCol: String, keyCol: String, splitAbove: Long, targetOcc: Long,
      iters: Int, scope: CacheScope)
      : (Map[Long, Int], Seq[(Long, Int, Array[Float])]) = {
    require(splitAbove >= 1, s"splitAbove >= 1, got $splitAbove")
    require(targetOcc >= 1, s"targetOcc >= 1, got $targetOcc")
    require(iters >= 1 && iters <= 5, s"iters in [1, 5], got $iters")
    val sess = assigned.sparkSession
    import sess.implicits._
    val base = scope.cache(assigned
      .filter(col(vecCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).cast("long").as("__key"),
        col(idCol).cast("long").as("__sid"), col(vecCol).as("__sv")))
    val hot = base.groupBy(col("__key")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > splitAbove)
      .select(col("__key"),
        greatest(lit(2L), ceil(col("__n") / lit(targetOcc.toDouble))
          .cast("long")).cast("int").as("__subk"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    if (hot.isEmpty) return (hot, Nil)
    val hotDf = broadcast(hot.toSeq.toDF("__key", "__subk"))
    val members = base.join(hotDf, Seq("__key"))
    // seeds: each hot group's subk lowest-id members (the kmeansFitInt8
    // seed convention, per group) — a window over hot members only
    // (fit-time, skew-bounded), collected at Σsubk rows
    val w = Window.partitionBy(col("__key")).orderBy(col("__sid"))
    var subs: Seq[(Long, Int, Array[Float])] = members
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__subk"))
      .select(col("__key"), col("__sid"), col("__sv")).collect()
      .map { r =>
        // validate the RAW long BEFORE narrowing to Int (r18 ADVICE):
        // ids >= 2^32 whose low bits land back in [0, 2^30) would
        // otherwise alias as sub-cell ids instead of tripping the
        // renumber-wider-ids enforcement
        val sid = r.getLong(1)
        require(sid >= 0L && sid < RefineOffset,
          s"refineHotCells: seed vector id $sid outside [0, $RefineOffset)" +
            " - RefineOffset + id must not collide with a parent key;" +
            " renumber wider ids before splitting")
        (r.getLong(0), sid.toInt, r.getSeq[Float](2).toArray)
      }
      .toSeq.sortBy(s => (s._1, s._2))
    for (_ <- 1 to iters) {
      val scDf = broadcast(
        subs.map { case (k, scid, v) => (k, scid, v.toSeq) }
          .toDF("__key", "__scid", "__cv"))
      // assignment: argmax over the PARENT's sub-centroids — ord
      // struct mirrors the oracle's (cc DESC, scid ASC): doubles in
      // SQL total order (NaN greatest = DuckDB NaN-first-under-DESC)
      val pick = members.join(scDf, Seq("__key"))
        .withColumn("__cc", cosine(col("__sv"), col("__cv")))
        .groupBy(col("__sid"))
        .agg(graft.functions.ArgExtremum.maxBy(
          struct(col("__key"), col("__scid"), col("__sv")),
          struct(col("__cc"), (-col("__scid")).as("__neg"))).as("__b"))
        .select(col("__b.__key").as("__key"), col("__b.__scid").as("__scid"),
          col("__b.__sv").as("__sv"))
      // update: integer-exact int8 component sums cast to float (the
      // kmeansStepInt8 arithmetic, keyed by (parent, seed))
      val upd = pick.groupBy(col("__key"), col("__scid"))
        .agg(graft.functions.Int8VecSum.sum(col("__sv")).as("__s"))
        .filter(col("__s.n") > 0)
        .select(col("__key"), col("__scid"), col("__s.sum"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          r.getSeq[Long](2).map(_.toFloat).toArray).toMap
      subs = subs.map { case (k, scid, old) =>
        (k, scid, upd.getOrElse((k, scid), old))
      }
    }
    (hot, subs)
  }

  /** The [[knnJoin]] family's split: re-key over-occupancy sign
    * buckets' members to their nearest locally-fitted sub-cell
    * (refined key = [[RefineOffset]] + seed id) and expand query probe
    * rows hitting a split bucket to their `subProbes` best sub-cells
    * (bounded-heap top-k per probe row — ties (cos DESC, seed ASC),
    * the family convention). Cold buckets and their probes pass
    * through untouched; the caller's occupancy guard then audits the
    * REFINED key space. Both frames keep their column sets. */
  private def splitHotKeyed(itemsKeyed: DataFrame, itemId: String,
      itemVec: String, queriesKeyed: DataFrame, queryVec: String,
      splitAbove: Long, targetOcc: Long, subProbes: Int, iters: Int = 1,
      scope: CacheScope = CacheScope.session): (DataFrame, DataFrame) = {
    require(subProbes >= 1, s"subProbes >= 1, got $subProbes")
    val (hot, subs) = fitHotSubCentroids(itemsKeyed, itemId, itemVec,
      "__bkt", splitAbove, targetOcc, iters, scope)
    if (hot.isEmpty) return (itemsKeyed, queriesKeyed)
    val sess = itemsKeyed.sparkSession
    import sess.implicits._
    val hotDf = broadcast(hot.keys.toSeq.toDF("__bkt"))
    val subDf = broadcast(
      subs.map { case (k, scid, v) => (k, scid, v.toSeq) }
        .toDF("__bkt", "__scid", "__cv"))
    // items: cold keep their bucket; hot members argmax their parent's
    // sub-centroids, payload columns riding the argmax value struct
    val itemPayload = itemsKeyed.columns.filterNot(_ == "__bkt")
    val coldItems = itemsKeyed.join(hotDf, Seq("__bkt"), "left_anti")
    val pickedItems = itemsKeyed.join(subDf, Seq("__bkt"))
      .withColumn("__cc", cosine(col(itemVec), col("__cv")))
      .groupBy(col(itemId))
      .agg(graft.functions.ArgExtremum.maxBy(
        struct(itemPayload.map(col) :+
          (lit(RefineOffset) + col("__scid").cast("long")).as("__bkt"): _*),
        struct(col("__cc"), (-col("__scid")).as("__neg"))).as("__b"))
      .select(col("__b.*"))
    // queries: probe rows into a hot bucket expand to the subProbes
    // best sub-cells (payloads are constant per (qid, bucket) row —
    // first() is deterministic here)
    val qPayload = queriesKeyed.columns
      .filterNot(c => c == "__bkt" || c == "qid")
    val coldQueries = queriesKeyed.join(hotDf, Seq("__bkt"), "left_anti")
    val pickedQueries = queriesKeyed.join(subDf, Seq("__bkt"))
      .withColumn("__cc", cosine(col(queryVec), col("__cv")))
      .groupBy(col("qid"), col("__bkt"))
      .agg(graft.functions.TopKHash.topK(
          col("__scid").cast("long"), col("__cc"), subProbes).as("__tk"),
        qPayload.map(c => first(col(c)).as(c)): _*)
      .select(col("qid") +: qPayload.map(col) :+
        explode(col("__tk")).as("__s"): _*)
      .withColumn("__bkt", lit(RefineOffset) + col("__s.id"))
      .drop("__s")
    (coldItems.unionByName(pickedItems.select(itemsKeyed.columns.map(col): _*)),
      coldQueries.unionByName(
        pickedQueries.select(queriesKeyed.columns.map(col): _*)))
  }

  /** IVF index refinement — split over-cap cells into locally-fitted
    * sub-cells and return the REFINED FLAT CENTROID LIST: cold cells
    * keep their centroid, each hot cell (population > `splitAbove`) is
    * REPLACED by its `⌈population/targetOcc⌉` fitted sub-centroids
    * (ids = [[RefineOffset]] + seed vector id). The result plugs
    * straight back into [[knnJoinIvf]]/[[ivfTopK]]/[[ivfCell]]: a
    * finer quantizer concentrated exactly where the data is dense, so
    * the hot cell's occupancy² candidate work drops to (occupancy /
    * subk)² per sub-cell while the cold geometry — and every consumer
    * API — is untouched. Deployment shape: run once per index build
    * when the occupancy report (or the [[guardCellOccupancy]]
    * fail-fast) names hot cells; the assignment pass it costs is the
    * index build itself.
    *
    * Oracle-unrollable end to end: assignment CTEs → occupancy GROUP
    * BY → per-parent seed rule (row_number ≤ ⌈n/target⌉) → the
    * kmeansFitCtes update arithmetic keyed by (parent, seed) → cold ∪
    * sub-centroid union (q169 unrolls exactly this). Determinism: the
    * refined list is cid-sorted; sub-fit assignment ties break (cc
    * DESC, scid ASC); empty sub-clusters keep their seed.
    *
    * Recall (RecallSweep `ivf_split_k32_i*`, measured): vs the unsplit
    * index at its top operating point, the refined index is within
    * 120–160 bp at MATCHED scan and reaches exact parity at ~1.2× the
    * scan; `iters = 2` is the measured knee of the sub-fit depth
    * (1 leaves sub-centroids near their lowest-id seeds, 3 over-fits
    * and drops back). A split hot cell is usually a coherent cluster,
    * so probe depth, not fit depth, reassembles its neighborhood. */
  def refineHotCells(items: DataFrame, itemId: String, itemVec: String,
      centroids: Seq[(Int, Array[Float])], splitAbove: Long,
      targetOcc: Long, iters: Int = 2,
      scope: CacheScope = CacheScope.session): Seq[(Int, Array[Float])] = {
    require(centroids.size >= 2, s"need >= 2 centroids, got ${centroids.size}")
    require(centroids.forall(c => c._1 >= 0 && c._1 < RefineOffset),
      s"cell ids must sit in [0, $RefineOffset) - the sub-cell id space" +
        " starts there")
    val assigned = items
      .filter(col(itemVec).isNotNull)
      .select(col(itemId), col(itemVec),
        nearestCentroid(col(itemVec), centroids).cast("long").as("__cell"))
    val (hot, subs) = fitHotSubCentroids(assigned, itemId, itemVec,
      "__cell", splitAbove, targetOcc, iters, scope)
    if (hot.isEmpty) centroids.sortBy(_._1)
    else {
      val cold = centroids.filterNot(c => hot.contains(c._1.toLong))
      val refined = cold ++ subs.map { case (_, scid, v) =>
        ((RefineOffset + scid).toInt, v)
      }
      refined.sortBy(_._1)
    }
  }

  /** The operational companion to [[refineHotCells]] and
    * [[guardCellOccupancy]]: per-cell occupancy of an IVF index with
    * the split decision PRE-COMPUTED — the report a deployment reads
    * before (instead of after) the fail-fast fires. One codegen
    * assignment pass + a cells-sized aggregate left-joined back onto
    * the full centroid list, so EMPTY cells appear with n = 0 (an
    * empty cell is drift evidence — [[ivfDrift]]'s territory — and a
    * report that silently omits it reads as healthy). Per cell:
    * population, whether it exceeds `guardAt` (the bound
    * [[knnJoinIvf]]'s guard would refuse at), and the sub-cell count
    * [[refineHotCells]] would fit for it at `targetOcc` (0 when not
    * hot). All exact integers; output cells-sized (never data):
    * cell, n_members, is_hot (long 0/1 — the driver-safe boolean
    * convention), suggested_subcells. */
  def ivfOccupancyReport(items: DataFrame, itemVec: String,
      centroids: Seq[(Int, Array[Float])], guardAt: Long,
      targetOcc: Long): DataFrame = {
    require(centroids.size >= 2, s"need >= 2 centroids, got ${centroids.size}")
    require(guardAt >= 1 && targetOcc >= 1,
      s"guardAt/targetOcc >= 1, got $guardAt/$targetOcc")
    val sess = items.sparkSession
    import sess.implicits._
    val occ = items.filter(col(itemVec).isNotNull)
      .select(nearestCentroid(col(itemVec), centroids)
        .cast("long").as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    centroids.map(_._1.toLong).toDF("cell")
      .join(occ, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("__n"), lit(0L)).as("n_members"),
        (coalesce(col("__n"), lit(0L)) > guardAt).cast("long").as("is_hot"),
        when(coalesce(col("__n"), lit(0L)) > guardAt,
          greatest(lit(2L), ceil(coalesce(col("__n"), lit(0L)) /
            lit(targetOcc.toDouble)).cast("long")))
          .otherwise(lit(0L)).as("suggested_subcells"))
  }

  /** SEED-QUALITY REPORT (r19 verdict item 6 — "make the seed-
    * stratification warning measurable"): the registered quantizer
    * seeds from the `nSeeds` LOWEST-ID corpus rows, a rule that is a
    * stratified draw only when id order does NOT correlate with
    * content — previously a scaladoc warning a deployment could not
    * act on. This report checks the precondition per corpus: vectors
    * hash into deterministic content strata ([[signBucket]] sign-cells
    * — the q64 semantic-cell machinery, cheap enough to audit with no
    * fit), and each populated cell reports its corpus population, how
    * many prefix seeds landed in it, and whether it is covered at all.
    * A healthy prefix covers every heavy cell roughly ∝ population
    * (this fixture: id order interleaves the label clusters); an
    * id-sorted corpus leaves covered = 0 on every cell the prefix
    * never reaches (the synthetic row of SCALING.md round 20,
    * "Seed-stratification audit") — the
    * per-corpus signal to switch seed rules BEFORE paying a fit whose
    * recall the seeds have already capped (measured: bad seeds cost
    * −2,900 bp and Lloyd depth does not recover them).
    *
    * Cost: one corpus scan + a (≤ 2^signBits)-sized aggregate; the
    * only driver fetch is the seed boundary id (1 row). Seeds follow
    * the registered rule exactly — the `nSeeds` lowest ids of the FULL
    * table (ids are unique keys, so `id <= boundary` IS the ORDER
    * BY/LIMIT prefix without a global sort). GRANULARITY RULE: pick
    * `signBits` so 2^signBits ≤ nSeeds — finer strata than seeds
    * under-cover by construction and the report reads alarmed on
    * healthy corpora (measured: 8 bits over 32 seeds shows ~86%
    * uncovered mass on BOTH the healthy and the adversarial shape; 4
    * bits separates them 1120 vs 2900 bp). Output (driver-safe,
    * cells-sized): cell, n_corpus, n_seeds, covered (long 0/1). */
  def seedCoverageReport(items: DataFrame, idCol: String, vecCol: String,
      nSeeds: Int, signBits: Int): DataFrame = {
    require(nSeeds >= 1, s"nSeeds >= 1, got $nSeeds")
    require(signBits >= 1 && signBits <= 20,
      s"signBits in [1, 20], got $signBits")
    val thr = items.select(col(idCol)).orderBy(col(idCol)).limit(nSeeds)
      .agg(max(col(idCol)).as("t")).collect()(0).get(0)
    val base = items.filter(col(vecCol).isNotNull)
      .select(col(idCol), signBucket(col(vecCol), signBits).as("cell"))
    base.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col(idCol) <= lit(thr), 1L).otherwise(0L)).as("n_seeds"))
      .select(col("cell"), col("n_corpus"), col("n_seeds"),
        (col("n_seeds") > 0L).cast("long").as("covered"))
  }

  // ------------------------------------------------------------------
  // AUTO-ROUTED geometry (r19, verdict task 1) — the engine acting on
  // its own measurements instead of a human reading SCALING.md's
  // boundary tables: the r18 round measured every regime edge (flat
  // loses to the two-level descent 4.2× e2e at 10⁴ cells and 6.1× at
  // 3·10⁴, but WINS 2.3× at moderate cells/occupancy ~63; hot-cell
  // splitting relieves skew at a measured 120–160 bp recall cost) and
  // left the route a documented operating rule. These entry points
  // derive the route from the same data the geometry derives from:
  // the CELL COUNT (known before any job — centroids.size) picks flat
  // vs descent, and below the descent boundary the occupancy pass
  // [[refineHotCells]] already runs picks split vs plain flat.
  // ------------------------------------------------------------------

  /** The measured flat-vs-two-level boundary, in CELLS: below it the
    * flat assignment (corpus × cells cosines) is within noise of the
    * descent and its simplicity wins (measured LOSS of 2.3× e2e for 2L
    * at 32·scale cells / occupancy ~63 — the r17 negative control);
    * above it the descent's sublinear assignment dominates (measured
    * e2e WIN of 4.2× at 10⁴ cells and 6.1× at 3·10⁴, exponent 0.61–
    * 0.96 vs flat 1.17–1.46 — SCALING.md r18 "two-level regime").
    * 4096 sits at the conservative end of the measured 10³–10⁴
    * crossover band: the flat path never runs where the descent's win
    * is measured, and the descent never runs where its loss is. At the
    * registered occupancy ([[graft.SparkEntry.TargetCellOcc]] = 64) the
    * boundary is crossed at ~262k corpus vectors.
    *
    * RECALL BUDGET AT THE FLIP (r20, measured — SCALING.md round 20,
    * "Two-level recall AT THE ROUTE BOUNDARY"): crossing
    * this boundary trades ≈1,000–1,250 bp of recall@10 at matched
    * nProbe (measured at BOTH occupancy 2 and the registered 64, 4096
    * cells, vs the flat assignment on brute-force truth) for a 5–6×
    * e2e wall win AT the boundary corpus (68.5 → 10.5 s at 262k
    * vectors; the gap widens with cells). The knob grid does NOT buy
    * the recall back — branchProbes 3→6 recovers ≤ 220 bp and ~0 at
    * occupancy 64; replicas 2→3 is noise (replicas 1 LOSES a further
    * ~420 bp, which is why 2 is the default). The compensation rule is
    * nProbe: doubling it recovers ~500 bp at one sixth of flat's wall.
    * A recall-critical consumer should raise nProbe when the route
    * flips, or pin `twoLevelAtCells` past its corpus and pay the flat
    * assignment knowingly. */
  val TwoLevelAtCells: Int = 4096

  /** The descent's branch count at a given cell count: ⌈√(2·cells)⌉ —
    * the minimizer of the per-row descent cost branches +
    * branchProbes·cells/branches at branchProbes ≈ 2 (the ScaleProbe
    * `ivf_assign_2l` derivation, shared here so the auto route and the
    * probes cannot drift apart). */
  def twoLevelBranches(cells: Int): Int =
    math.max(2, math.min(cells, math.round(math.sqrt(2.0 * cells)).toInt))

  /** Count of cells whose population exceeds `splitAbove` — the route
    * signal [[knnJoinIvfAuto]] reads below the descent boundary (the
    * decision column of [[ivfOccupancyReport]] as one number). One
    * assignment pass + a cells-sized aggregate; null vectors excluded
    * exactly as the occupancy guard excludes them. */
  def hotCellCount(items: DataFrame, itemVec: String,
      centroids: Seq[(Int, Array[Float])], splitAbove: Long): Long =
    items.filter(col(itemVec).isNotNull)
      .select(nearestCentroid(col(itemVec), centroids).as("__cell"))
      .groupBy(col("__cell")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > splitAbove)
      .count()

  /** The data-derived route [[knnJoinIvfAuto]] takes, as an inspectable
    * value: `"two_level"` when the index has at least `twoLevelAtCells`
    * cells, else `"split_flat"` when any cell's population exceeds
    * `splitAbove` (the [[refineHotCells]] skew knob fires), else
    * `"flat"`. Exposed separately so probes and reports can assert
    * WHICH path the auto join runs without re-deriving the rule.
    *
    * COST (r19 verdict item): below the descent boundary this is an
    * EAGER CORPUS JOB per call — [[hotCellCount]] runs a full
    * assignment pass (corpus × cells cosines) plus a cells-sized
    * aggregate to answer "is any cell hot". It is an INSTRUMENT, not a
    * hot-path helper: [[knnJoinIvfAuto]] itself never calls it — the
    * auto join's refinement pass IS the route decision (identity
    * refinement = the flat arm), so route + join share one occupancy
    * pass. A caller that wants the taken-route label alongside the
    * join should derive it from the boundary test (`centroids.size >=
    * twoLevelAtCells` is free) and, below it, accept that the label
    * costs one assignment pass — or log `"flat_or_split"` and let the
    * q172 occupancy report (which a deployment runs anyway) name the
    * arm. Above the boundary the route is a driver-side size check:
    * zero jobs. */
  def annRouteFor(items: DataFrame, itemVec: String,
      centroids: Seq[(Int, Array[Float])], splitAbove: Long,
      twoLevelAtCells: Int = TwoLevelAtCells): String =
    if (centroids.size >= twoLevelAtCells) "two_level"
    else if (hotCellCount(items, itemVec, centroids, splitAbove) > 0L)
      "split_flat"
    else "flat"

  /** [[knnJoinIvf]] with the GEOMETRY ROUTE DERIVED FROM THE DATA —
    * the r18 verdict's "make the engine act on its own measurements":
    *
    *  - cells ≥ `twoLevelAtCells` ([[TwoLevelAtCells]] — the measured
    *    crossover): build the two-level descent from the given
    *    centroids ([[twoLevelIndexFitted]], branches = ⌈√(2·cells)⌉,
    *    the measured-recall replicas/branchProbes defaults) and run
    *    [[knnJoinIvf2L]];
    *  - below the boundary: [[refineHotCells]] + [[knnJoinIvf]] — the
    *    occupancy pass both need runs ONCE, and when no cell exceeds
    *    `splitAbove` the refinement is the identity, so the flat and
    *    split routes are one code path whose split arm engages exactly
    *    when the q172 report would flag hot cells ([[annRouteFor]]
    *    names the arm taken).
    *
    * Every arm is the corresponding registered operator verbatim —
    * same k/nProbe/guard — so the auto join's output is ALWAYS equal
    * to one of the oracle-pinned shapes: q169's refined flat below the
    * boundary (≡ q46's plain flat when nothing is hot, since the
    * refinement is then the identity), q166's descent machinery above
    * it (unit-pinned equal to [[knnJoinIvf2L]] on a dense corpus;
    * the boundary itself is probed, not oracled — no oracle fixture
    * reaches 4096 derived cells). Output: qid, id, cos, rank. */
  def knnJoinIvfAuto(items: DataFrame, itemId: String, itemVec: String,
      k: Int, centroids: Seq[(Int, Array[Float])], nProbe: Int,
      splitAbove: Long, targetOcc: Long, splitIters: Int = 2,
      twoLevelAtCells: Int = TwoLevelAtCells,
      branchProbes: Int = 3, replicas: Int = 2, topIters: Int = 2,
      maxCellOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session,
      modelMemoKey: Any = null): DataFrame = {
    require(centroids.size >= 2, s"need >= 2 centroids, got ${centroids.size}")
    // derived-index memo (fit-once): the route's derived structure —
    // the refined centroid list or the two-level index — is a pure
    // function of (corpus, centroids, knobs), so a caller that can
    // name the corpus (q173 folds dir + corpusStamp) amortizes the
    // refine/derive cost across executions exactly as q169's memo
    // does; the caller's key MUST pin corpus identity (a stale derived
    // index is silently wrong, the model-memo discipline). Null = fit
    // per call (the pure self-contained form).
    def memo[V](stage: String)(fit: => V): V =
      if (modelMemoKey == null) fit
      else scope.model((modelMemoKey, stage, splitAbove, targetOcc,
        splitIters, twoLevelAtCells, replicas, topIters))(fit)
    if (centroids.size >= twoLevelAtCells) {
      val (tops, fines) = memo("twoLevel") {
        twoLevelIndexFitted(centroids,
          branches = twoLevelBranches(centroids.size),
          iters = topIters, replicas = replicas)
      }
      knnJoinIvf2L(items, itemId, itemVec, k, tops, fines,
        branchProbes = branchProbes, nProbe = nProbe,
        maxCellOccupancy = maxCellOccupancy, scope = scope)
    } else {
      val refined = memo("refine") {
        refineHotCells(items, itemId, itemVec, centroids,
          splitAbove = splitAbove, targetOcc = targetOcc,
          iters = splitIters, scope = scope)
      }
      knnJoinIvf(items, itemId, itemVec, k, refined, nProbe,
        maxCellOccupancy = maxCellOccupancy, scope = scope)
    }
  }

  /** The IVF cell id of a vector (its nearest centroid) — the public
    * face of the assignment expression, for instruments that audit the
    * index (the q149 card's scan-fraction rows) without re-deriving the
    * comparator. */
  def ivfCell(vec: Column, centroids: Seq[(Int, Array[Float])]): Column =
    nearestCentroid(vec, centroids)

  /** A query vector's `nProbe` IVF probe cells, ordered best-first —
    * [[knnJoinIvf]]'s query-side fan-out as a reusable column. */
  def ivfProbes(vec: Column, centroids: Seq[(Int, Array[Float])],
      nProbe: Int): Column =
    graft.functions.NearestCentroidsFn(vec, centroids, nProbe)

  /** Two-level (IMI-style) index structure DERIVED from a flat fitted
    * centroid list — no second fit, so oracles unroll it from the same
    * centroid CTEs: tops = the `branches` LOWEST-CID centroids (the
    * deterministic seed convention — centroids arrive cid-sorted at
    * every call site); every centroid becomes a FINE cell assigned to
    * its nearest top under the exact flat comparator (round-6dp cosine,
    * sequence ties — [[graft.functions.TwoLevelCentroidUtil.assignF]]).
    * Returns (tops, fines) where each fine is (cid, branch index in
    * tops order, vector) — the model the [[ivfCell2L]]/[[ivfProbes2L]]
    * expressions carry as codegen references.
    *
    * Why this exists: with cells ∝ corpus (the [[guardCellOccupancy]]
    * routing), the flat assignment is the next super-linear term —
    * ∝ corpus × cells. The two-level descent costs ∝ branches +
    * branchProbes · cells/branches per row, minimized at branches ≈
    * √cells: sublinear in cells at every probe budget (ScaleProbe
    * `ivf_assign_flat` vs `ivf_assign_2l`). */
  def twoLevelIndex(centroids: Seq[(Int, Array[Float])], branches: Int):
      (Seq[(Int, Array[Float])], Seq[(Int, Int, Array[Float])]) = {
    require(branches >= 2 && branches <= centroids.size,
      s"branches in [2, ${centroids.size}], got $branches")
    val tops = centroids.sortBy(_._1).take(branches)
    val topCidx = tops.indices.toArray
    val topMat = tops.map(_._2).toArray
    val fines = centroids.sortBy(_._1).map { case (cid, v) =>
      (cid, graft.functions.TwoLevelCentroidUtil.assignF(v, topCidx, topMat), v)
    }
    (tops, fines)
  }

  /** [[quantizeInt8]]'s per-vector rule on the driver — max-|x| scale,
    * `round(x·127/s)` HALF_UP (Spark's codegen `round` is exact-binary
    * BigDecimal HALF_UP; DuckDB `round` is half-away-from-zero — the
    * same function on these operands, the q155 precedent). */
  private def q127(v: Array[Float]): Array[Long] = {
    var s = 0.0
    var i = 0
    while (i < v.length) {
      val a = math.abs(v(i).toDouble); if (a > s) s = a; i += 1
    }
    if (s == 0.0) Array.fill(v.length)(0L)
    else v.map(x => new java.math.BigDecimal(x.toDouble * 127.0 / s)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
  }

  /** [[twoLevelIndex]] with a FITTED top level — the recall fix the
    * naive subset-tops derivation measurably needs (RecallSweep: subset
    * tops at branchProbes 2 lose ~3300 bp of recall vs flat at equal
    * probes, because an arbitrary low-cid centroid is a poor proxy for
    * its branch members): `iters` Lloyd rounds over the CENTROID SET
    * itself, entirely driver-side (the "corpus" here is cells-sized —
    * no job, no shuffle), under the EXACT [[kmeansStepInt8]] update
    * discipline — assignment by round-6dp cosine with sequence-order
    * ties ([[graft.functions.TwoLevelCentroidUtil.assignF]]),
    * per-vector int8 quantization ([[q127]] = [[quantizeInt8]]'s
    * formula), update = integer component sums cast to FLOAT, an empty
    * branch keeps its previous top — so an oracle replays the whole
    * top-level fit from the same centroid CTEs in cells-sized SQL.
    * Seeds: the `branches` lowest-cid centroids (tops keep their seed
    * cids, [[kmeansFitInt8]]'s convention). Fines are assigned to the
    * FITTED tops. */
  def twoLevelIndexFitted(centroids: Seq[(Int, Array[Float])],
      branches: Int, iters: Int = 2, replicas: Int = 1):
      (Seq[(Int, Array[Float])], Seq[(Int, Int, Array[Float])]) = {
    require(branches >= 2 && branches <= centroids.size,
      s"branches in [2, ${centroids.size}], got $branches")
    require(iters >= 0 && iters <= 20, s"iters in [0, 20], got $iters")
    require(replicas >= 1 && replicas <= branches,
      s"replicas in [1, $branches], got $replicas")
    val sorted = centroids.sortBy(_._1)
    val qs: Map[Int, Array[Long]] =
      sorted.map { case (cid, v) => cid -> q127(v) }.toMap
    var tops = sorted.take(branches)
    for (_ <- 1 to iters) {
      val tIdx = tops.indices.toArray
      val tMat = tops.map(_._2).toArray
      val byBranch = sorted.groupBy { case (_, v) =>
        graft.functions.TwoLevelCentroidUtil.assignF(v, tIdx, tMat)
      }
      tops = tops.zipWithIndex.map { case ((tcid, told), bi) =>
        byBranch.get(bi) match {
          case Some(members) if members.nonEmpty =>
            val sum = new Array[Long](told.length)
            members.foreach { case (cid, _) =>
              val q = qs(cid)
              var d = 0
              while (d < told.length) { sum(d) += q(d); d += 1 }
            }
            (tcid, sum.map(_.toFloat))
          case _ => (tcid, told)
        }
      }
    }
    val tMat = tops.map(_._2).toArray
    // replicated registration (spill-tree redundancy): each fine cell
    // registers under its `replicas` nearest FITTED tops, so a query
    // descending either branch reaches it — the measured recall
    // recovery for partial descents (RecallSweep ivf_2l *_r2 rows); the
    // probe expressions dedup repeated cids, so cell ids stay unique
    // per probe list. Cost: probed fines × replicas.
    val fines = sorted.flatMap { case (cid, v) =>
      graft.functions.TwoLevelCentroidUtil.assignTopNF(v, tMat, replicas)
        .map(b => (cid, b, v))
    }
    (tops, fines)
  }

  /** [[ivfCell]]'s two-level form: the fine cell id reached by probing
    * the `branchProbes` best branches. With `branchProbes = branches`
    * it EQUALS the flat assignment exactly (unit-pinned). */
  def ivfCell2L(vec: Column, tops: Seq[(Int, Array[Float])],
      fines: Seq[(Int, Int, Array[Float])], branchProbes: Int): Column =
    graft.functions.TwoLevelCellFn(vec, tops, fines, branchProbes)

  /** [[ivfProbes]]'s two-level form: the best `nProbe` fine cells among
    * the probed branches' fines, best-first. */
  def ivfProbes2L(vec: Column, tops: Seq[(Int, Array[Float])],
      fines: Seq[(Int, Int, Array[Float])], branchProbes: Int,
      nProbe: Int): Column =
    graft.functions.TwoLevelCellsFn(vec, tops, fines, branchProbes, nProbe)

  /** [[knnJoinIvf]] with the TWO-LEVEL coarse quantizer — the
    * registered ANN shape's next-decade variant: same candidate
    * equi-join on the fine cell id, same bounded-heap top-k, same
    * [[guardCellOccupancy]] fail-fast, but item assignment and query
    * probes descend a caller-built two-level index
    * ([[twoLevelIndexFitted]] — fitted tops + replicated fines are the
    * measured recall configuration; [[twoLevelIndex]] is the cheap
    * derivation) instead of scoring every cell — the knob SCALING.md
    * documents for when cells ∝ corpus makes the flat assignment
    * itself the super-linear term.
    * Recall contract: a true neighbor is found iff BOTH its branch is
    * among the query's `branchProbes` descents AND its cell is among
    * the query's `nProbe` fine probes — two knobs, measured together
    * in RecallSweep. Output: qid, id, cos, rank (drop-in). */
  def knnJoinIvf2L(items: DataFrame, itemId: String, itemVec: String,
      k: Int, tops: Seq[(Int, Array[Float])],
      fines: Seq[(Int, Int, Array[Float])],
      branchProbes: Int, nProbe: Int, maxCellOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(tops.size >= 2 && fines.nonEmpty && nProbe >= 1,
      s"need >=2 tops, >=1 fines and nProbe >= 1")
    val bucketed = guardCellOccupancy(
      items.select(col(itemId), col(itemVec),
        ivfCell2L(col(itemVec), tops, fines, branchProbes).as("__cell")),
      maxCellOccupancy, scope)
    val queries = items.select(col(itemId).as("qid"), col(itemVec).as("__qv"),
      explode(ivfProbes2L(col(itemVec), tops, fines, branchProbes, nProbe))
        .as("__cell"))
    val joined = bucketed.join(queries, Seq("__cell"))
      .filter(col("qid") =!= col(itemId))
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    topKReduce(joined, itemId, k)
  }

  /** Nearest-centroid id by 6-dp cosine (ties to the lowest id) as one
    * codegen expression chain against centroid LITERALS — a narrow
    * per-row projection, no shuffle (an argmax-by-join would shuffle
    * the corpus once per assignment pass). */
  private def nearestCentroid(vec: Column,
      centroids: Seq[(Int, Array[Float])]): Column =
    // one generated static call ([[graft.functions.NearestCentroid]]);
    // the k-cosines → greatest → when-chain Column form it replaces
    // trips a janino "not an rvalue" compile error at k = 8 and drops
    // the whole stage to interpreted execution — same argmax semantics
    // (round-6 cosine, earliest centroid wins ties, dim-mismatch
    // skipped, all-mismatch → −1), oracle-hash-verified on q37/q98
    graft.functions.NearestCentroidFn(vec, centroids)

  /** One Lloyd iteration of cosine k-means as a corpus operator — the
    * training step behind the IVF coarse quantizer and semantic-cluster
    * curation: every vector is assigned to its nearest centroid (the
    * [[ivfTopK]] assignment chain — narrow codegen, no shuffle), and
    * the new per-cluster centroids come back as INTEGER-EXACT
    * int8-quantized component sums, so the iteration is deterministic
    * under any partitioning — float mean-pooling would make every run's
    * centroids (and the next round's assignments) drift with
    * accumulation order. Null vectors are excluded. The whole step is
    * ONE scan + ONE aggregate ([[graft.functions.Int8VecSum]]: quantize
    * and sum in the update, n_vecs in the same buffer), so after the
    * caller's scatter a round plans exactly one exchange, carrying one
    * dims-sized buffer per cluster per task. Output: cluster, n_vecs,
    * centroid_sum. */
  def kmeansStepInt8(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): DataFrame =
    lloydSums(df, vecCol, centroids)
      .filter(col("__s.n") > 0)
      .select(col("cluster"), col("__s.n").as("n_vecs"),
        col("__s.sum").as("centroid_sum"))

  /** [[kmeansStepInt8]]'s aggregate as it leaves the exchange: cluster,
    * `__s` = struct(n, sum) — n is 0 for a cluster whose vectors are all
    * empty. [[kmeansFitInt8]] collects it as is, so a fit round plans
    * no stage after the final aggregate. */
  private def lloydSums(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): DataFrame = {
    require(centroids.size >= 2, s"need >= 2 centroids, got ${centroids.size}")
    df.filter(col(vecCol).isNotNull)
      .select(nearestCentroid(col(vecCol), centroids).as("cluster"),
        col(vecCol).as("__v"))
      .groupBy(col("cluster"))
      .agg(graft.functions.Int8VecSum.sum(col("__v")).as("__s"))
  }

  /** Fixed-iteration Lloyd fit: [[kmeansStepInt8]] looped `iters` times
    * from `init` — the convergence loop q98's single step was missing,
    * so IVF coarse centroids no longer have to be a one-shot
    * deterministic seed ([[ivfTopK]] consumes the result directly).
    *
    * Discipline (the q113 iterative-op conventions, adapted): the MODEL
    * is driver-side — centroid literals ride the assignment expression —
    * so each round is one fresh corpus scan + a (k × dims)-sized
    * aggregate with new literals; there is NO lineage growth and
    * therefore no `localCheckpoint` (pageRankInt checkpoints because
    * its state is a distributed dataset; here the per-round `collect`
    * fetches k rows — a bounded model fetch, never data). Determinism:
    * assignment is the round-6dp cosine with first-centroid ties
    * ([[graft.functions.NearestCentroid]]), the update is the EXACT
    * int8 component sum cast to FLOAT (IEEE round-to-nearest — an
    * external engine reproduces it bit-for-bit from the same integers;
    * cosine is scale-invariant so the |cluster| division is dropped,
    * the q64 convention). A cluster that attracts no vectors keeps its
    * previous centroid (deterministic, documented — the standard Lloyd
    * empty-cell rule). Fixed `iters`, idempotent once assignments
    * stabilize — oracles unroll the same rounds as CTEs (the q113/q140
    * discipline). Returns the fitted centroids in `init`'s shape.
    * Each round is one Spark action: the scatter's map stage (when the
    * caller scattered), then [[kmeansStepInt8]]'s one exchange and a
    * k-row collect straight off the final aggregate.
    *
    * `fitFraction` < 1 trains each round on a DETERMINISTIC hash
    * sample of the corpus ([[Sampling.hashSample]] on `fitIdCol` with
    * `fitSeed` — membership is a pure function of the id, so oracles
    * unroll it as a WHERE predicate and reruns/repartitions see the
    * same sample). This is the 100 TB fit discipline: any real IVF
    * build trains its quantizer on a sample, and with cells grown ∝
    * corpus a full-corpus fit would itself be the quadratic term
    * (rounds × corpus × cells cosines). Sampling the fit keeps that
    * pass constant-cost while the ASSIGNMENT (the consumer's
    * nearest-centroid pass over all rows) still covers every vector —
    * measured: growth exponent 0.54-0.72 at 10-30× vs 1.07 with a
    * fixed-cell full fit (SCALING.md). Callers pass seeds drawn FROM
    * the sample (the lowest-id sampled rows — q165's convention) so
    * the whole model history stays sample-pure. */
  def kmeansFitInt8(df: DataFrame, vecCol: String,
      init: Seq[(Int, Array[Float])], iters: Int,
      fitFraction: Double = 1.0, fitIdCol: String = "",
      fitSeed: String = "ivf"): Seq[(Int, Array[Float])] = {
    require(init.size >= 2, s"need >= 2 initial centroids, got ${init.size}")
    require(iters >= 1 && iters <= 20, s"iters in [1, 20], got $iters")
    require(fitFraction > 0.0 && fitFraction <= 1.0,
      s"fitFraction in (0, 1], got $fitFraction")
    require(fitFraction == 1.0 || fitIdCol.nonEmpty,
      "fitFraction < 1 requires fitIdCol (hash-sample membership is " +
        "keyed on a stable id, never on partitioning)")
    val fitDf =
      if (fitFraction >= 1.0) df
      else Sampling.hashSample(df, fitIdCol, fitFraction, fitSeed)
    var cents = init
    for (_ <- 1 to iters) {
      val step = lloydSums(fitDf, vecCol, cents).collect()
        .map(r => r.getInt(0) -> r.getStruct(1))
        .collect { case (cid, s) if s.getLong(0) > 0 =>
          cid -> s.getSeq[Long](1).map(_.toFloat).toArray }.toMap
      cents = cents.map { case (cid, old) => (cid, step.getOrElse(cid, old)) }
    }
    cents
  }

  /** Assignment-with-cohesion projection shared by the IVF maintenance
    * family and its live twin: each non-null vector gets `cell` (long —
    * nearest fitted centroid, the [[ivfTopK]] assignment rule) and `bp`
    * (long — round-6dp cosine to THAT centroid, in integer basis
    * points: `round(cos·10⁴)`). One codegen assignment expression plus
    * one broadcast join against the cells-sized centroid table — a
    * stateless narrow projection, which is exactly why the streaming
    * twin ([[graft.stream.Streamed.ivfDriftState]]) can reuse it
    * verbatim on a stream before its keyed state op. */
  def assignBp(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): DataFrame = {
    require(centroids.size >= 2, s"need >= 2 centroids, got ${centroids.size}")
    val sess = df.sparkSession
    import sess.implicits._
    val centsDf = centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("__cid", "__cvec")
    df.filter(col(vecCol).isNotNull)
      .withColumn("__cid", nearestCentroid(col(vecCol), centroids))
      .join(broadcast(centsDf), Seq("__cid"))
      .withColumn("cell", col("__cid").cast("long"))
      .withColumn("bp",
        round(cosine(col(vecCol), col("__cvec")) * 10000, 0).cast("long"))
      .drop("__cid", "__cvec")
  }

  /** IVF index-maintenance monitor: assign an arriving batch to the
    * STANDING fitted coarse quantizer and emit per-cell drift facts —
    * the operational companion to a LIVING 100 TB ANN index, where the
    * question is never "is the index right today" but "is this week's
    * data still shaped like the data the quantizer was fitted on".
    * Per cell: standing occupancy, new-batch occupancy, growth in
    * basis points, mean/min cosine of new members to their assigned
    * centroid (cohesion — falling cohesion means the batch lands
    * BETWEEN the fitted cells), and a refit trigger
    * (`cohesion < cohesionFloorBp` or `growth > growthCapBp`).
    *
    * All emitted stats are exact integers (bp = round(cos·10⁴), summed
    * and integer-divided through a +10⁴·n shift so the division is
    * over non-negative operands — trunc-vs-floor integer division
    * diverges across engines on negative numerators). One narrow
    * codegen assignment pass per side (no shuffle until the cells-
    * sized aggregate), one broadcast join against the cells-sized
    * centroid table for the assigned-centroid cosine; at 100 TB the
    * standing side's assignment is the index itself (amortized — here
    * recomputed in-query, the q157 self-containment convention).
    *
    * Output: cell (long), n_standing, n_new, growth_bp (long;
    * divisor floored at 1 for empty standing cells), cohesion_bp /
    * min_cos_bp (long, null when the cell got no new members),
    * needs_refit (boolean). One row per centroid. */
  def ivfDrift(standing: DataFrame, batch: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])], cohesionFloorBp: Long,
      growthCapBp: Long): DataFrame = {
    require(centroids.size >= 2, s"need >= 2 centroids, got ${centroids.size}")
    val sess = standing.sparkSession
    import sess.implicits._
    val sCount = standing.filter(col(vecCol).isNotNull)
      .select(nearestCentroid(col(vecCol), centroids).as("__cid"))
      .groupBy(col("__cid")).agg(count(lit(1)).as("n_standing"))
    val bStats = assignBp(batch.select(col(vecCol)), vecCol, centroids)
      .groupBy(col("cell").cast("int").as("__cid"))
      .agg(count(lit(1)).as("n_new"), sum(col("bp")).as("__sbp"),
        min(col("bp")).as("__minbp"))
    val nNew = coalesce(col("n_new"), lit(0L))
    val nStanding = coalesce(col("n_standing"), lit(0L))
    val cohesion =
      expr("CAST((__sbp + 10000 * n_new) div n_new AS BIGINT) - 10000")
    centroids.map(_._1).toDF("__cid")
      .join(sCount, Seq("__cid"), "left")
      .join(bStats, Seq("__cid"), "left")
      .select(
        col("__cid").cast("long").as("cell"),
        nStanding.as("n_standing"),
        nNew.as("n_new"),
        expr("(coalesce(n_new, 0) * 10000) div " +
          "greatest(coalesce(n_standing, 0), 1)").as("growth_bp"),
        when(nNew > 0, cohesion).as("cohesion_bp"),
        when(nNew > 0, col("__minbp")).as("min_cos_bp"),
        (when(nNew > 0, cohesion < cohesionFloorBp).otherwise(lit(false)) ||
          expr("(coalesce(n_new, 0) * 10000) div " +
            "greatest(coalesce(n_standing, 0), 1)") > growthCapBp)
          .as("needs_refit"))
  }

  /** IVF refit migration report — the repair step [[ivfDrift]]'s
    * triggers call for: given the OLD (standing) and NEW (warm-start
    * refit) coarse quantizers, report how the corpus moves between
    * cells. Per new-quantizer cell: occupancy before/after, how many
    * vectors stayed, arrived, and left — the numbers that decide
    * whether the refit is a cheap relabel (small migration → update
    * postings incrementally) or a rebuild (mass migration → rewrite
    * the index), and the audit trail that a "refit" actually changed
    * something.
    *
    * ONE corpus pass: both assignments are codegen centroid-literal
    * expressions in the same projection (no join, no shuffle until the
    * cells-sized aggregate); every emitted fact is an exact integer
    * count. Output: cell, n_before, n_after, n_stay, n_in, n_out —
    * one row per centroid id (the two quantizers must share ids, the
    * warm-start contract). */
  def ivfRefitReport(df: DataFrame, vecCol: String,
      oldCents: Seq[(Int, Array[Float])],
      newCents: Seq[(Int, Array[Float])]): DataFrame = {
    require(oldCents.map(_._1) == newCents.map(_._1),
      "old/new quantizers must share centroid ids (warm-start refit)")
    val sess = df.sparkSession
    import sess.implicits._
    val assigned = df.filter(col(vecCol).isNotNull)
      .select(nearestCentroid(col(vecCol), oldCents).as("__old"),
        nearestCentroid(col(vecCol), newCents).as("__new"))
    val before = assigned.groupBy(col("__old").as("__cid"))
      .agg(count(lit(1)).as("n_before"))
    val after = assigned.groupBy(col("__new").as("__cid"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("__old") === col("__new"), 1L).otherwise(0L))
          .as("n_stay"))
    newCents.map(_._1).toDF("__cid")
      .join(before, Seq("__cid"), "left")
      .join(after, Seq("__cid"), "left")
      .select(
        col("__cid").cast("long").as("cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_stay"), lit(0L)).as("n_stay"),
        (coalesce(col("n_after"), lit(0L)) -
          coalesce(col("n_stay"), lit(0L))).as("n_in"),
        (coalesce(col("n_before"), lit(0L)) -
          coalesce(col("n_stay"), lit(0L))).as("n_out"))
  }

  /** Integer-exact per-group centroid SUMS over int8-quantized vectors —
    * the class-centroid pass behind nearest-centroid classification, IVF
    * coarse-quantizer training, and per-label drift monitoring. Mean-
    * pooling float vectors per group is accumulation-order-dependent
    * (different partitionings → different centroids → different
    * downstream assignments); this quantizes each vector
    * ([[quantizeInt8]], deterministic per row) and sums COMPONENTS as
    * exact integers, returning the un-normalized sum (the q64
    * convention: cosine against a centroid is scale-invariant, so the
    * |group| division is dropped rather than rounded — consumers divide
    * themselves if they need the mean, choosing their own precision).
    *
    * Scale shape: ONE aggregate per group ([[graft.functions.Int8VecSum]]
    * next to the two counts) — the exchange carries one dims-sized
    * buffer per group per task, not corpus × dims rows. Null vectors
    * are excluded (counted in n_null); a group with no non-empty vector
    * (or a null key) has no row. Output: `groupCol`, n_vecs, n_null,
    * centroid_sum (array<long>, one element per dimension). */
  def centroidByGroup(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame =
    df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(col(vecCol)).as("n_vecs"),
        sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("n_null"),
        graft.functions.Int8VecSum.sum(col(vecCol)).as("__s"))
      .filter(col("__s.n") > 0)
      .select(col(groupCol), col("n_vecs"), col("n_null"),
        col("__s.sum").as("centroid_sum"))

  /** Deterministic ±1 sign for Johnson–Lindenstrauss cell (i, j): the
    * parity of the engine's md5 [[graft.ops.Dedup.hash60]] of
    * `"seed:i:j"` — any external engine regenerates the identical
    * projection matrix from (seed, dims) alone, the
    * [[graft.ops.TextAnalysis.md5Weights]] convention. */
  def jlSign(seed: String, i: Int, j: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$i:$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    if ((java.lang.Long.parseLong(hex, 16) & 1L) == 0L) 1 else -1
  }

  /** Johnson–Lindenstrauss random projection over int8-QUANTIZED
    * vectors: out_j = Σ_i q_i · s_ij with a deterministic ±1 matrix
    * ([[jlSign]]) — the standard dimensionality crunch in front of an
    * ANN index (Achlioptas 2001: ±1 entries preserve pairwise
    * distances like Gaussian ones), applied AFTER [[quantizeInt8]] so
    * every output component is an EXACT integer sum (|out_j| ≤
    * 127·dim): float accumulation order never exists, and the oracle
    * reproduces the projection bit-for-bit (the q61/q80 discipline —
    * JL on raw floats would be order-sensitive per component).
    *
    * The matrix rides the expression as dim × outDim literal signs
    * (the [[graft.ops.TextAnalysis.hashedLinearScore]] ship-the-model
    * convention — at 100 TB it ships once per executor inside the
    * task binary) and the projection is ONE narrow per-row projection
    * of native add/multiply expressions: no shuffle, no UDF, no HOF.
    * Null vectors pass through as null. Output: `df`'s columns +
    * `scale` (the per-vector quantization scale, for consumers that
    * rescale) + `proj` (array<long>, outDim exact components). */
  def randomProjectInt8(df: DataFrame, vecCol: String, dim: Int,
      outDim: Int, seed: String): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got ($outDim, $dim)")
    // fused quantize+project in one codegen call per row
    // ([[graft.functions.JlProjectInt8]] — the unfused Column form ran
    // an interpreted aggregate HOF plus a dim × outDim expression tree
    // that fell out of whole-stage codegen; measured 2.5s → sub-second
    // at sf0.1)
    df.withColumn("__jp",
        graft.functions.JlProjectInt8Fn(col(vecCol), dim, outDim, seed))
      .withColumn("scale", col("__jp.scale"))
      .withColumn("proj", col("__jp.proj"))
      .drop("__jp")
  }

  /** kNN label propagation — push labels from a labeled seed set to the
    * unlabeled remainder (semi-supervised data labeling: a human-rated
    * or classifier-scored seed corpus labels the other 97% by embedding
    * neighborhood). Rows with a non-null `labelCol` are the reference;
    * each null-label row takes the MAJORITY label among its top-`k`
    * exact-cosine neighbors from the reference, candidates generated by
    * the [[knnJoin]] multi-probe sign-LSH machinery (same `signBits` /
    * `probeHamming` / `maxBucketOccupancy` semantics — a query whose probed
    * cells hold no labeled vector propagates nothing and is absent
    * from the output; raise `probeHamming` when coverage matters).
    * Vote counts are exact integers; vote ties break by ascending
    * label, neighbor-rank ties by (cos desc, id asc) — deterministic
    * end to end. `labelCol` must be integral. Output: itemId, label
    * (predicted), votes. */
  def labelPropagate(items: DataFrame, itemId: String, itemVec: String,
      labelCol: String, k: Int, signBits: Int, probeHamming: Int = 1,
      maxBucketOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val labeled = guardSignOccupancy(
      items.filter(col(labelCol).isNotNull)
        .select(col(itemId), col(itemVec), col(labelCol),
          signBucket(col(itemVec), signBits).as("__bkt")),
      "labelPropagate", maxBucketOccupancy, scope)
    val probes = hammingProbes(signBucket(col(itemVec), signBits),
      signBits, probeHamming)
    val queries = items.filter(col(labelCol).isNull)
      .select(col(itemId).as("qid"), col(itemVec).as("__qv"),
        explode(probes).as("__bkt"))
    val nn = topKReduce(
      labeled.join(queries, Seq("__bkt"))
        .withColumn("cos", cosine(col(itemVec), col("__qv"))),
      itemId, k)
    val votes = nn
      .join(items.filter(col(labelCol).isNotNull)
        .select(col(itemId).cast("long").as("id"), col(labelCol).as("__lbl")),
        "id")
      .groupBy(col("qid"), col("__lbl"))
      .agg(count(lit(1)).as("__votes"))
    // majority = bounded-heap argmax; ties (equal votes) to LOWEST label
    graft.ops.Rank.topNPerGroup(votes, Seq("qid"), "__lbl", "__votes", n = 1)
      .select(col("qid").as(itemId),
        // the heap carries its payload as long; restore the label dtype
        col("id").cast(items.schema(labelCol).dataType).as(labelCol),
        col("score").cast("long").as("votes"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * vector, its top-`k` most cosine-similar vectors with a DIFFERENT
    * label ("looks like an anchor, isn't one" — the negatives that
    * actually teach an embedding model, vs easy random negatives).
    * Exactly [[knnJoin]]'s candidate machinery (multi-probe sign-LSH,
    * per-cell cap, bounded-heap top-k, ties (cos desc, id asc)) with
    * the label-mismatch cut applied BEFORE the heap, so the k slots
    * hold negatives only. Null-label rows can't serve as anchors or
    * negatives (no label to differ from). Output: qid (anchor), id
    * (negative), cos, rank. */
  def hardNegatives(items: DataFrame, itemId: String, itemVec: String,
      labelCol: String, k: Int, signBits: Int, probeHamming: Int = 1,
      maxBucketOccupancy: Long = 0L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val labeled = items.filter(col(labelCol).isNotNull)
    val bucketed = guardSignOccupancy(
      labeled.select(col(itemId), col(itemVec), col(labelCol),
        signBucket(col(itemVec), signBits).as("__bkt")),
      "hardNegatives", maxBucketOccupancy, scope)
    val probes = hammingProbes(signBucket(col(itemVec), signBits),
      signBits, probeHamming)
    val queries = labeled.select(col(itemId).as("qid"),
      col(itemVec).as("__qv"), col(labelCol).as("__ql"),
      explode(probes).as("__bkt"))
    val joined = bucketed.join(queries, Seq("__bkt"))
      .filter(col("qid") =!= col(itemId) &&
        col(labelCol) =!= col("__ql")) // the hard-negative cut
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    topKReduce(joined, itemId, k)
  }

  /** Sign-bit LSH bucket key: bit i set iff dimension i is non-negative.
    * Deterministic (no random planes) so oracles can mirror it. */
  def signBucket(vec: Column, signBits: Int): Column =
    (0 until signBits).map(i =>
      when(vec.getItem(i) >= 0, lit(1L << i)).otherwise(lit(0L)): Column).reduce(_ + _)

  /** All cells within Hamming distance `probeHamming` (0, 1, or 2) of
    * `own` — the query-side multi-probe set: 1, 1 + b, or
    * 1 + b + b·(b−1)/2 cells for b sign bits. Probe count is a QUERY-
    * side fan-out only (the corpus registers once, in its own cell), so
    * deeper probing buys recall at probe × bucket-occupancy candidate
    * cost, never at index cost — the standard recall knob when the
    * embedding distribution defeats single-bit stability (measured on
    * the fixture: recall@10 24% at (8 bits, H≤1) → 84–85% at (4, H≤2),
    * at an 11/16 cell-scan fraction — SCALING.md "ANN recall sweep"). */
  def hammingProbes(own: Column, signBits: Int, probeHamming: Int): Column = {
    require(probeHamming >= 0 && probeHamming <= 2,
      s"probeHamming in [0, 2], got $probeHamming")
    val h1 = (0 until signBits).map(i => own.bitwiseXOR(lit(1L << i)): Column)
    val h2 = for { i <- 0 until signBits; j <- (i + 1) until signBits }
      yield own.bitwiseXOR(lit((1L << i) | (1L << j))): Column
    probeHamming match {
      case 0 => array(own)
      case 1 => array(own +: h1: _*)
      case _ => array(own +: h1 ++: h2: _*)
    }
  }

  /** The `probes` REGISTRATION cells of a vector under sign-bit LSH:
    * its [[signBucket]] cell plus the cells reached by flipping, one at
    * a time, the `probes − 1` dimensions whose |component| is SMALLEST
    * among the first `signBits` (ties by ascending dimension) — classic
    * multi-probe LSH (Lv et al., VLDB 2007), except aimed at the cells
    * a vector most plausibly SHOULD ALSO live in rather than the cells
    * a query should also look in: the smallest-|component| dimensions
    * are exactly the hyperplanes a near-duplicate is most likely to
    * have crossed. Registering the standing side of an incremental
    * dedup under these cells buys single-bit-miss recall while the
    * probing side stays ONE row with ONE equi-join key — which is what
    * keeps the live ingest form stateless. `probes = 1` is the plain
    * own-cell key. Pure projection, cross-engine mirrorable (the flip
    * choice orders by the stored float values both engines share). */
  def probeCells(vec: Column, signBits: Int, probes: Int): Column = {
    require(probes >= 1 && probes <= signBits + 1,
      s"need 1 <= probes <= signBits + 1, got probes=$probes signBits=$signBits")
    val own = signBucket(vec, signBits)
    if (probes <= 1) array(own)
    else {
      val nearest = slice(array_sort(transform(
        sequence(lit(0), lit(signBits - 1)),
        i => struct(abs(element_at(vec, i + 1)).as("a"), i.as("i")))),
        1, probes - 1)
      concat(array(own), transform(nearest, s => own.bitwiseXOR(
        pow(lit(2.0), s.getField("i").cast("double")).cast("long"))))
    }
  }

  /** Approximate top-k over sign-bucket LSH. `probeHamming = 0` probes
    * only the query's own bucket (scanned fraction ≈ 2^-signBits per
    * query; recall depends on the data's sign stability — a neighbor
    * whose vector crosses ONE hyperplane is invisible). `probeHamming = 1`
    * is multi-probe: each query also probes the signBits buckets at
    * Hamming distance 1 (one flipped sign), the standard recall fix —
    * scanned fraction ≈ (signBits+1)·2^-signBits, still bucket-bounded.
    * Only the broadcast-small query side fans out (one row per probe);
    * the corpus is scanned once either way, and a corpus row matches at
    * most one probe per query (probe keys are distinct), so no dedup is
    * needed. Output: qid, id, cos, rank (rank within the probed set). */
  def lshTopK(
      items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, signBits: Int, probeHamming: Int = 0): DataFrame = {
    val bItems = items.withColumn("__bkt", signBucket(col(itemVec), signBits))
    // the query's own bucket is projected ONCE and the probes XOR that
    // column: inlining the sign-bit CASE sum into every probe element
    // (37 copies at 8 bits, Hamming 2) overflows the generated method
    // and drops the stage to interpreted execution
    val bQueries = broadcast(queries.select(
        col(queryId).as("qid"), col(queryVec).as("__qv"),
        signBucket(col(queryVec), signBits).as("__own"))
      .select(col("qid"), col("__qv"),
        explode(hammingProbes(col("__own"), signBits, probeHamming)).as("__bkt")))
    val joined = bItems.join(bQueries, Seq("__bkt"))
      .withColumn("cos", cosine(col(itemVec), col("__qv")))
    topKReduce(joined, itemId, k)
  }

  /** Recall@k of the LSH index against exact brute force — the
    * evaluation harness every ANN deployment needs BEFORE trusting the
    * approximate path at scale: recall is a data property (it moves
    * when the embedding distribution moves), so it is measured on a
    * query sample as a pipeline step, not assumed from the paper.
    *
    * Per query: `n_found` = rows the LSH probe returned (< k when the
    * probed cells are under-populated), `n_hit` = how many of those are
    * in the exact top-k, `recall_bp` = `n_hit·10000 div k` (integer
    * basis points — no float ratios). Both rankings share the
    * round-6dp cosine + ascending-id tiebreak, so the intersection is
    * deterministic cross-engine.
    *
    * Scale shape: the exact side is the brute-force scan (queries are a
    * SAMPLE — the broadcast-queries × corpus pass is one linear scan);
    * the approximate side probes buckets as [[lshTopK]] does. Two
    * bounded-heap top-k aggregates, a (qid, id)-keyed hash join on two
    * k-row-per-query tables, and queries-sized joins out. */
  def annRecall(items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, signBits: Int, probeHamming: Int = 0): DataFrame = {
    val truth = bruteForceTopK(items, itemId, itemVec,
      queries, queryId, queryVec, k)
    val approx = lshTopK(items, itemId, itemVec,
      queries, queryId, queryVec, k, signBits, probeHamming)
    val hits = truth.select(col("qid"), col("id"))
      .join(approx.select(col("qid"), col("id")), Seq("qid", "id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    val found = approx.groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
    queries.select(col(queryId).as("qid"))
      .join(found, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_found"), lit(0L)).cast("long").as("n_found"),
        coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
        expr(s"CAST((coalesce(n_hit, 0) * 10000) div $k AS BIGINT)")
          .as("recall_bp"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein,
    * SIGIR'98): from each query's candidate shortlist, greedily pick `k`
    * documents maximizing `λ·rel − (1−λ)·max_{s∈picked} cos(d, s)` —
    * relevance traded against redundancy with what's already picked.
    * The curation use is diverse exemplar selection: a plain top-k over
    * a near-dup-heavy corpus returns k copies of one document; MMR
    * returns k DIFFERENT ones. The first pick maximizes bare `λ·rel`
    * (empty-set penalty 0), matching the paper.
    *
    * ROUTING (r17 measured): this distributed form is the
    * CONGRUITY/audit twin, NOT the deployment path — each pick costs ~3
    * Spark jobs (penalty aggregate, argmax, checkpoint), so the chain
    * probes super-linear in k (ScaleProbe `mmr_deploy` exponent 1.26 at
    * k→100). Deployments run [[mmrSelectLocal]] (identical arithmetic,
    * unit-pinned row-for-row, 66× faster, exponent 0.37): a query's
    * candidate set is bounded at m, the legitimate per-group-imperative
    * case. This form stays public for plan-level auditability (every
    * argmax is a declarative step an external engine replays) and is
    * FAIL-FASTED at `maxK` (default [[MmrDistributedMaxK]]) picks so
    * the 3-jobs-per-pick chain cannot ship at deployment pick counts
    * unremarked — `maxK` exists only so instruments (ScaleProbe
    * `mmr_deploy`) can keep measuring the documented loss.
    *
    * `candidates` must be a bounded per-query shortlist (the output of
    * [[bruteForceTopK]] / [[ivfTopKFitted]] joined back to its vectors)
    * — MMR is O(m²) in shortlist size m by nature, so the corpus-scale
    * work is the ANN that BUILT the shortlist, never this operator.
    *
    * Fully declarative unrolled greedy (the [[kmeansFitInt8]] pattern,
    * minus the collect — no driver round-trip at all; each step's
    * picks-sized result is eagerly localCheckpoint'ed executor-side,
    * the pageRankInt iterative-lineage discipline): pairwise
    * round-6dp cosines are computed ONCE into a cached m²-per-query
    * pair table, then each of the k steps is a qid-keyed
    * (anti-join → max-penalty aggregate → argmax window) over cached
    * shortlist-sized tables, so an external engine replays the exact
    * IEEE tree step by step. Two cross-engine traps are closed by
    * construction: the 1−λ weight is folded from the same `1.0 − λ`
    * subtraction on both engines (never a pre-simplified decimal
    * literal, which would differ in the last ulp), and the MMR score
    * itself is NOT the raw `a·b − c·d` double tree — that shape
    * invites FMA contraction on native engines (measured: DuckDB's is
    * 1 ulp off the JVM's two-multiply form). Instead each product is
    * rounded to 9 dp and the subtraction done in DECIMAL(19,9) (the
    * [[Retrieval.bm25TopK]] trick), so every step's argmax compares
    * values that are bit-identical on any engine. Ties broken by
    * ascending id at every argmax.
    *
    * Scale shape: everything after the shortlist is partitioned by qid
    * and sized m or m² per query; the k steps reuse the two cached
    * tables (no recomputation of the shortlist per step) and nothing
    * ever touches the corpus. Queries with fewer than k candidates
    * yield all of them, in pick order.
    *
    * Output: `qidCol`, `pick` (long, 1-based selection order), `idCol`,
    * `rel` (double — the candidate's relevance), `mmr` (double — the
    * score it was picked at). */
  def mmrSelect(candidates: DataFrame, qidCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int, lambda: Double,
      scope: CacheScope = CacheScope.session,
      maxK: Int = MmrDistributedMaxK): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(k <= maxK,
      s"mmrSelect: k = $k exceeds maxK = $maxK." +
        " The distributed MMR chain costs ~3 Spark jobs PER PICK" +
        " (measured exponent 1.26 at deployment pick counts - ScaleProbe" +
        " mmr_deploy); route deployment selection through mmrSelectLocal" +
        " (identical arithmetic, one mapGroups pass, measured 66x faster).")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val cand = scope.cache(candidates.select(
      col(qidCol), col(idCol),
      col(relCol).cast("double").as("__rel"), col(vecCol).as("__v")))
    val pairs = scope.cache(
      cand.select(col(qidCol), col(idCol).as("__a"), col("__v").as("__va"))
        .join(cand.select(col(qidCol), col(idCol).as("__b"),
          col("__v").as("__vb")), Seq(qidCol))
        .filter(col("__a") =!= col("__b"))
        .select(col(qidCol), col("__a"), col("__b"),
          cosine(col("__va"), col("__vb")).as("__sim")))
    // both weights as folded literals: λ verbatim, 1−λ computed ONCE
    // on the JVM and shipped to the oracle in full repr (a re-derived
    // decimal `1.0 - λ` lands 1 ulp away from the IEEE fold — r16
    // ADVICE); each product rounded to 9 dp and the subtraction done
    // in decimal so no engine can FMA-contract the a·b − c·d tree
    val wRel = lit(lambda)
    val wDiv = lit(1.0) - lit(lambda)
    def dec9(c: Column): Column = round(c, 9).cast("decimal(19,9)")
    def argmax(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col(qidCol))
        .orderBy(col("__mmrd").desc, col(idCol).asc)
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col(qidCol), col(idCol), col("__rel"), col("__mmrd"))
    }
    // each pick is EAGERLY localCheckpoint'ed (≤ one row per query —
    // the pageRankInt iterative discipline): step i's plan references
    // every prior pick, so without truncation the nested lineage both
    // re-executes combinatorially AND re-plans each occurrence —
    // measured at 2k vectors: 80 s raw, 43 s cache-only (planning
    // still walks the nest), ~4 s truncated. The checkpoint is a
    // picks-sized RDD, never data.
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val first = pin(
      argmax(cand.withColumn("__mmrd", dec9(wRel * col("__rel")))))
    // the selected set accumulates as ONE checkpointed table (re-pinned
    // per step) rather than a re-built union of every prior pick: the
    // per-pick union chain made step i's plan carry i leaves, so the
    // TOTAL planning work grew ∝ k² — measured at deployment pick
    // counts (ScaleProbe mmr_deploy, k 10→100: exponent 1.29 before,
    // the per-step re-plan dominating) even though each step's data is
    // tiny. One extra ≤ picks-sized checkpoint per step buys a
    // constant-shape plan for every step.
    var selected = first.select(col(qidCol), col(idCol))
    val picks = (2 to k).foldLeft(Vector(first)) { (acc, _) =>
      val penalty = pairs
        .join(selected.withColumnRenamed(idCol, "__b"), Seq(qidCol, "__b"))
        .groupBy(col(qidCol), col("__a")).agg(max(col("__sim")).as("__ms"))
        .withColumnRenamed("__a", idCol)
      val scored = cand.join(selected, Seq(qidCol, idCol), "left_anti")
        .join(penalty, Seq(qidCol, idCol))
        .withColumn("__mmrd",
          dec9(wRel * col("__rel")) - dec9(wDiv * col("__ms")))
      val next = pin(argmax(scored))
      selected = pin(
        selected.unionByName(next.select(col(qidCol), col(idCol))))
      acc :+ next
    }
    picks.zipWithIndex.map { case (p, i) =>
      p.select(col(qidCol), lit(i + 1L).as("pick"), col(idCol),
        col("__rel").as("rel"), col("__mmrd").cast("double").as("mmr"))
    }.reduce(_ unionByName _)
  }

  /** [[mmrSelect]] at DEPLOYMENT pick counts — the per-query greedy MMR
    * loop as ONE `mapGroups` pass instead of `k` chained Spark jobs:
    * the distributed form launches ~3 jobs per pick (penalty aggregate,
    * argmax, checkpoint), so at production shapes (pick ~100 from ~1k)
    * the job-launch/checkpoint overhead dominates and the probe reads
    * super-linear (ScaleProbe `mmr_deploy`: exponent 1.15 even after
    * the plan fix). A query's candidate set is BOUNDED (m vectors — a
    * few MB), which is the legitimate per-group-imperative case: one
    * shuffle on the query id, then the greedy loop runs in memory per
    * group, computing pairwise cosines lazily against the selected set
    * (∝ k·m per query, never the m² pair table).
    *
    * Semantics are IDENTICAL to [[mmrSelect]] — the unit suite pins
    * equality row-for-row: the same round-6dp cosine ([[cosine]]'s
    * sequential double fold), the same 9-dp decimal weighting
    * (`round(x, 9)` exact-binary HALF_UP, then the double→decimal(19,9)
    * cast via shortest-repr — both replicated from Spark's codegen),
    * decimal subtraction, (mmrd desc NULLS LAST, id asc) argmax, and
    * Spark's NaN-above-everything `max` for the penalty — INCLUDING
    * the null contract (r17 ADVICE): a null `rel` or null vector rides
    * through as a null score (sorts last under the argmax, exactly the
    * distributed NULLS-LAST window), and a null vector's cosines are
    * ignored by the max-sim penalty fold (the `max` aggregate's
    * null-skipping), rather than throwing on decode. Ids must cast
    * to long (the kNN-family convention); candidate (qid, id) pairs are
    * assumed unique (they are a top-k shortlist). Output exactly
    * [[mmrSelect]]'s: qidCol, pick, idCol, rel, mmr — with long ids. */
  def mmrSelectLocal(candidates: DataFrame, qidCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val sess = candidates.sparkSession
    import sess.implicits._
    val wRel = lambda
    val wDiv = 1.0 - lambda
    val kk = k
    // Option decode mirrors the distributed form's null tolerance: a
    // null rel/vector must ride through as a null score, not NPE on
    // primitive unboxing (r17 ADVICE)
    val prepped = candidates.select(
        col(qidCol).cast("long"), col(idCol).cast("long"),
        col(relCol).cast("double"), col(vecCol))
      .as[(Long, Long, Option[Double], Option[Array[Float]])]
    val picked = prepped.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val arr = it.toArray.sortBy(_._2) // id order = the tie order
      val n = arr.length
      val done = new Array[Boolean](n)
      val ms = new Array[Double](n)
      val hasMs = new Array[Boolean](n)
      val out = Vector.newBuilder[(Long, Long, Long, Option[Double], Option[Double])]
      var pickNo = 1L
      var go = true
      while (pickNo <= kk && go) {
        var best = -1
        var bestScore: java.math.BigDecimal = null
        var i = 0
        while (i < n) {
          if (!done(i)) {
            // step 1 scores every candidate by relevance alone; later
            // steps subtract the decimal-weighted max-sim penalty. A
            // None rel is the distributed null: wRel * null = null.
            val a = arr(i)._3 match {
              case Some(r) => MmrMath.dec9(wRel * r)
              case None => null
            }
            val score: java.math.BigDecimal =
              if (pickNo == 1L) a
              else {
                val b = if (hasMs(i)) MmrMath.dec9(wDiv * ms(i)) else null
                if (a == null || b == null) null else a.subtract(b)
              }
            // strict better-than scanned in id order replicates the
            // window's (mmrd DESC NULLS LAST, id ASC): non-null beats
            // null, larger decimal beats smaller, ties keep the
            // earlier (smaller) id
            val better =
              if (best == -1) true
              else if (score == null) false
              else if (bestScore == null) true
              else score.compareTo(bestScore) > 0
            if (better) { best = i; bestScore = score }
          }
          i += 1
        }
        if (best == -1) go = false
        else {
          done(best) = true
          out += ((qid, pickNo, arr(best)._2, arr(best)._3,
            Option(bestScore).map(_.doubleValue())))
          // fold the new pick into every survivor's max-sim penalty
          // (Spark max: NaN above every number, nulls skipped — a
          // None vector on either side contributes no sim, exactly
          // the null cosine the distributed max aggregate ignores)
          var j = 0
          while (j < n) {
            if (!done(j)) {
              for (vj <- arr(j)._4; vb <- arr(best)._4) {
                val s = MmrMath.cos6(vj, vb)
                if (!hasMs(j)) { ms(j) = s; hasMs(j) = true }
                else if (s.isNaN || (!ms(j).isNaN && s > ms(j))) ms(j) = s
              }
            }
            j += 1
          }
          pickNo += 1
        }
      }
      out.result()
    }
    picked.toDF(qidCol, "pick", idCol, "rel", "mmr")
  }
}

/** [[Similarity.mmrSelectLocal]]'s scalar replicas of the distributed
  * form's arithmetic — kept serializable-object-level so the mapGroups
  * closure ships no outer state. */
private[ops] object MmrMath {

  /** Spark `round(x, 9)` then `CAST(double AS DECIMAL(19,9))`, exactly:
    * exact-binary BigDecimal HALF_UP to 9 dp back to double (the codegen
    * round), then the cast's shortest-repr re-parse
    * (`BigDecimal.valueOf`) re-scaled to 9 dp. NaN/∞ → null (the cast's
    * rule). */
  def dec9(x: Double): java.math.BigDecimal =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) null
    else {
      val rounded = new java.math.BigDecimal(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      java.math.BigDecimal.valueOf(rounded)
        .setScale(9, java.math.RoundingMode.HALF_UP)
    }

  /** [[Similarity.cosine]] on driver-shipped float arrays: sequential
    * double fold, `round(·, 6)` exact-binary HALF_UP — the
    * [[graft.functions.CosineSim]] arithmetic verbatim. */
  def cos6(a: Array[Float], b: Array[Float]): Double = {
    if (a.length != b.length) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    graft.functions.NearestCentroidUtil.round6(
      dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}

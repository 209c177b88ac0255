package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Similarity}
import Tables.{corpusStamp, cpuTable, table}
import Models.{fittedCentroids, IvfCells, ivfModelGen, ivfModelTable,
  IvfProbe, LshMaxBucket, registeredCells, registeredCentroids,
  SampleFitFraction, SplitAbove, SplitIters, SplitTargetOcc, TargetCellOcc}
import OSql.{CellsSql, ivfKnnCtes, kmeansFitCtes, SamplePredSql}
import Query.{Heavy, Light}

/** kNN joins over the fitted IVF quantizer: the registered geometry,
  * sampled and two-level fits, hot-cell splits, the auto route and the
  * persisted model. */
object KnnQueries {

  /** Approximate kNN JOIN on the registered fitted-IVF default
    * ([[Similarity.knnJoinIvf]]): top-3 neighbors for EVERY corpus
    * vector — the whole-corpus neighbor graph behind clustering/
    * diversity sampling, vs q26/q27's small broadcast query set. Since
    * r18 the default geometry is [[registeredCentroids]] — cells
    * derived from the corpus count, quantizer fit on a hash sample —
    * the shape whose 10×/30× probes complete with FULL rows and a
    * silent guard (the fixed-32 pin refused at 10× on clustered data,
    * r17 sweep). The fit runs in-query (the q156 convention: the query
    * is self-contained and the oracle unrolls every fit round in CTEs,
    * the derived cell count included); a deployment fits once and
    * amortizes. */
  private def qKnnJoin(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = registeredCentroids(s, dir),
      nProbe = IvfProbe, maxCellOccupancy = LshMaxBucket)

  /** q46's kNN join with quantized coarse scoring + full-precision
    * rerank ([[Similarity.knnJoinIvfQuantized]]): the candidate hot
    * loop scores int8 vectors (codegen [[graft.functions.Int8Cos]], ¼
    * the memory traffic), the float32 vectors move only for the
    * coarseK-deep shortlist. Same cells as q46, same output shape. */
  private def qKnnQuantized(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvfQuantized(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = registeredCentroids(s, dir),
      nProbe = IvfProbe, coarseK = 10, maxCellOccupancy = LshMaxBucket)

  /** q165's quantizer: 2 Lloyd rounds trained on the fitFraction =
    * [[SampleFitFraction]] deterministic hash sample ([[Similarity
    * .kmeansFitInt8]]'s r17 knob), seeded by the [[IvfCells]]
    * LOWEST-ID SAMPLED vectors — the whole model history is
    * sample-pure, so the oracle unrolls it with the sample as a WHERE
    * predicate and an ORDER BY/LIMIT seed rule. Memoized like
    * [[fittedCentroids]]. */
  private def sampledCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    CacheScope.session.model(("sampledCentroids", dir,
        corpusStamp(dir), IvfCells, 2, SampleFitFraction)) {
      val all = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val sample = graft.ops.Sampling.hashSample(
        all, "vec_id", SampleFitFraction, "ivf")
      val seeds = sample.orderBy(col("vec_id")).limit(IvfCells)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
      Similarity.kmeansFitInt8(all, "embedding", seeds, iters = 2,
        fitFraction = SampleFitFraction, fitIdCol = "vec_id",
        fitSeed = "ivf")
    }

  /** q165: the sample-fit kNN join at the FIXED-CELL PIN —
    * [[Similarity.knnJoinIvf]] over [[sampledCentroids]] (32 cells,
    * quantizer fit on the hash sample). Historically this query was
    * the scale-safe sibling of a fixed-geometry q46; since the r18
    * flip q46 itself runs the derived-cells/sampled fit
    * ([[registeredCentroids]]), and q165 remains as the CELL-COUNT
    * CONTROL: same sample-fit discipline, cell count pinned at
    * [[IvfCells]] instead of derived — the A/B that isolates what the
    * derived count buys (and the oracle shape that proved the sampled
    * model history unrollable end to end). Same k/nProbe/guard as
    * q46. */
  private def qKnnSampledFit(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = sampledCentroids(s, dir),
      nProbe = IvfProbe, maxCellOccupancy = LshMaxBucket)

  /** q166: the TWO-LEVEL (IMI-style) kNN join ([[Similarity
    * .knnJoinIvf2L]]) — the next-decade knob after q165's cells ∝
    * corpus: once cells grow with the corpus, the FLAT assignment
    * (corpus × cells cosines) is itself the super-linear term, and the
    * two-level descent replaces it with ∝ branches + branchProbes ·
    * replicas · cells/branches per row. The index is DERIVED from
    * q46's fitted centroids with NO second corpus pass
    * ([[Similarity.twoLevelIndexFitted]]: a driver-side cells-sized
    * Lloyd fit of the 8 tops under the exact kmeansStepInt8
    * discipline, fines registered under their 2 nearest tops), so the
    * oracle unrolls the whole structure — top fit rounds, replicated
    * registration, descent, assignment, probes — from the same fit
    * CTEs. Registered at the sweep's best recall point (RecallSweep
    * ivf_2l_k32_b8_fit_r2: branchProbes 3, 7960 bp at the same 12.6%
    * scan as q46's 9080 — the measured cost of the sublinear
    * assignment on this fixture's shallow 32-cell hierarchy). Same
    * k/nProbe/guard as q46. */
  private def qKnnTwoLevel(s: SparkSession, dir: String): DataFrame = {
    val (tops, fines) = CacheScope.session.model(
        ("twoLevel", dir, corpusStamp(dir), IvfCells, 8, 2, 2)) {
      Similarity.twoLevelIndexFitted(fittedCentroids(s, dir),
        branches = 8, iters = 2, replicas = 2)
    }
    Similarity.knnJoinIvf2L(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, tops, fines,
      branchProbes = 3, nProbe = IvfProbe,
      maxCellOccupancy = LshMaxBucket)
  }

  /** q169: the SKEW-SPLIT kNN join (r18, verdict task 2) —
    * [[Similarity.refineHotCells]] refines the registered quantizer
    * before the join: cells whose population exceeds [[SplitAbove]]
    * are REPLACED by ⌈n/[[SplitTargetOcc]]⌉ sub-centroids fitted
    * locally on the hot cell's members (one grouped Lloyd round, the
    * kmeansFitInt8 arithmetic keyed by (parent, seed)), and the join
    * runs [[Similarity.knnJoinIvf]] over the refined flat list —
    * IDENTICAL consumer machinery, finer geometry exactly where the
    * data is dense. This is the knob for the skew-bound regime the r17
    * sweep named (scaled cells bound the MEAN; the HOT cell still
    * guards): where q46's derived count holds the average, q169's
    * refinement relieves the popular region. The oracle unrolls the
    * whole split history — occupancy, hot set, per-parent seed rule,
    * the sub-fit round, the cold ∪ sub-cell union, and the refined
    * assignment/probe/join. Same k/nProbe/guard as q46. */
  private def qKnnSplit(s: SparkSession, dir: String): DataFrame = {
    val refined = CacheScope.session.model(("refinedCentroids", dir,
        corpusStamp(dir), ivfModelGen(dir), TargetCellOcc, SplitAbove,
        SplitTargetOcc, SplitIters)) {
      Similarity.refineHotCells(cpuTable(s, dir, "embeddings"), "vec_id",
        "embedding", registeredCentroids(s, dir),
        splitAbove = SplitAbove, targetOcc = SplitTargetOcc,
        iters = SplitIters)
    }
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = refined, nProbe = IvfProbe,
      maxCellOccupancy = LshMaxBucket)
  }

  /** q172: the index occupancy / split-decision report
    * ([[Similarity.ivfOccupancyReport]]) over the registered quantizer
    * — the instrument a deployment reads BEFORE the occupancy guard
    * fires: per cell, the exact population, whether it exceeds the
    * q169 split threshold, and the sub-cell count [[Similarity
    * .refineHotCells]] would fit for it. Empty cells report n = 0
    * (drift evidence, q160's territory) rather than vanishing. Closes
    * the operational loop the round built: report (q172) → split
    * (q169) → guard (q46's fail-fast) all on one geometry, each stage
    * oracle-gated. */
  private def qIvfOccupancy(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfOccupancyReport(cpuTable(s, dir, "embeddings"),
      "embedding", registeredCentroids(s, dir),
      guardAt = SplitAbove, targetOcc = SplitTargetOcc)

  /** q173: the AUTO-ROUTED kNN join (r19, verdict task 1 — the engine
    * acting on its own measurements): [[Similarity.knnJoinIvfAuto]]
    * derives the geometry route from the same corpus count the
    * registered cells derive from, instead of a human reading q172's
    * report and SCALING.md's boundary tables. Cells ≥ [[Similarity
    * .TwoLevelAtCells]] (the measured flat-vs-descent crossover —
    * reached at ~262k corpus vectors under [[TargetCellOcc]]) →
    * q166's two-level descent; below it → q169's hot-cell refinement,
    * whose split arm engages exactly when any cell exceeds
    * [[SplitAbove]] and is the IDENTITY otherwise. Same k/nProbe/
    * guard/split constants as q46/q169 everywhere, so the oracle is
    * q169's VERBATIM (one truth, two registered plans — the q171 ≡
    * q168 convention): its `shot` CTE already conditions the split on
    * the data, so the SQL covers both sub-boundary arms; the
    * above-boundary arm is unreachable at any oracle fixture (8–32
    * derived cells) and is pinned by the knnJoinIvfAuto ≡ knnJoinIvf2L
    * congruity unit test plus the `knn_join_auto_dense` ScaleProbe row
    * on a 10⁴-cell fixture. */
  private def qKnnAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvfAuto(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = registeredCentroids(s, dir),
      nProbe = IvfProbe, splitAbove = SplitAbove,
      targetOcc = SplitTargetOcc, splitIters = SplitIters,
      maxCellOccupancy = LshMaxBucket,
      // fit-once: the auto route's derived index (the refined list
      // below the boundary) is memoized per corpus like q169's —
      // without this the query re-paid the refine fit per execution
      // (measured 4.85 s vs q169's 1.71 at bench)
      modelMemoKey = ("q173auto", dir, corpusStamp(dir),
        ivfModelGen(dir), TargetCellOcc, SampleFitFraction))

  /** q178: the SEED-QUALITY report over the registered seed rule (r20,
    * verdict task 6): [[Similarity.seedCoverageReport]] with nSeeds =
    * the derived cell count ([[registeredCells]] — exactly the prefix
    * [[registeredCentroids]] seeds from) and 8 sign bits. Per
    * populated sign-cell: corpus population, seeds landed, covered
    * 0/1 — the per-corpus precondition check for the prefix seed rule
    * (on corpora whose id order correlates with content the prefix is
    * NOT a stratified draw; SCALING.md round 20, "Seed-stratification
    * audit", measures both shapes). 4 sign bits per the operator's
    * granularity rule — 2^bits strata must not exceed the seed count,
    * or the report under-covers by construction (measured at 8 bits:
    * ~8600 bp "uncovered" on BOTH healthy and adversarial shapes —
    * no signal). The oracle unrolls the sign-cell sum, the derived
    * count ([[CellsSql]]) and the prefix boundary as scalar
    * subqueries. */
  private def qSeedCoverage(s: SparkSession, dir: String): DataFrame =
    Similarity.seedCoverageReport(table(s, dir, "embeddings"), "vec_id",
      "embedding", nSeeds = registeredCells(s, dir), signBits = 4)

  /** q177: the auto route's TWO-LEVEL ARM under the driver gate (r20,
    * verdict task 7 — r19 registered the router but no oracle fixture
    * reaches [[Similarity.TwoLevelAtCells]] = 4096 derived cells, so
    * the above-boundary arm was pinned only by unit congruity + a
    * probe assert): [[Similarity.knnJoinIvfAuto]] with the boundary
    * knob LOWERED to the fixture's fixed cell count ([[IvfCells]] =
    * 32 ≤ cells, so the router provably takes the descent — the knob
    * exists precisely so deployments can tune the crossover, and the
    * route rule `centroids.size >= twoLevelAtCells` is a driver-side
    * size check with zero jobs). Every constant is q166's: the same
    * [[fittedCentroids]] base, branches = [[Similarity
    * .twoLevelBranches]](32) = 8, topIters = 2, replicas = 2,
    * branchProbes = 3, same k/nProbe/guard — so the output IS q166's
    * two-level join and the oracle is q166's SQL verbatim (one truth,
    * two plans; AutoRouteSpec pins the arm congruity knnJoinIvfAuto ≡
    * knnJoinIvf2L at these knobs, and with q173 BOTH arms of the
    * registered router now carry a green oracle row). */
  private def qKnnAutoTwoLevel(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvfAuto(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = fittedCentroids(s, dir),
      nProbe = IvfProbe, splitAbove = SplitAbove,
      targetOcc = SplitTargetOcc, splitIters = SplitIters,
      twoLevelAtCells = IvfCells, branchProbes = 3, replicas = 2,
      topIters = 2, maxCellOccupancy = LshMaxBucket,
      modelMemoKey = ("q177auto", dir, corpusStamp(dir), IvfCells))

  /** q174: q46's kNN join probing the PERSISTED quantizer model (r19,
    * verdict task 2 — q171's write-then-read discipline applied to the
    * ANN artifact): [[registeredCentroids]] is fitted once, WRITTEN as
    * a cells × dims parquet table in the session catalog
    * ([[graft.sources.Artifacts.ensureTable]] — corpus fingerprint +
    * dir hash in the name, race-safe build), and the join reads the
    * centroids BACK FROM THE FILES — the model fetch is cells-sized,
    * and the fit never re-runs once the artifact exists (where q46's
    * self-contained in-query fit re-pays it per session). float32
    * round-trips parquet bit-exactly and the read is cid-sorted (the
    * nearest-centroid tie rule is order-sensitive), so the probe is
    * IDENTICAL to q46 — same inputs, same k/nProbe/guard, IDENTICAL
    * oracle SQL (one truth, two plans: in-query fit vs persisted
    * artifact — the q171 ≡ q168 convention). ScaleProbe
    * `ivf_model_build` vs `knn_probe_persisted_model` separates the
    * build cost this artifact amortizes from the per-batch probe. */
  private def qKnnPersisted(s: SparkSession, dir: String): DataFrame = {
    val mdlTable = ivfModelTable(dir)
    graft.sources.Artifacts.ensureTable(s, mdlTable,
        path = s"/tmp/graft_ivf_model/$mdlTable") {
      import s.implicits._
      registeredCentroids(s, dir)
        .map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "cvec")
    }
    val cents = s.table(mdlTable).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .toSeq.sortBy(_._1)
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = cents, nProbe = IvfProbe,
      maxCellOccupancy = LshMaxBucket)
  }

  /** q166's oracle body — shared verbatim with q177 (the auto route's
    * above-boundary arm IS q166's two-level descent: same derivation,
    * same branches/replicas/probes, so one SQL is the truth for both
    * registered plans — the q171 ≡ q168 / q174 ≡ q46 convention). */
  private lazy val Sql_q166: String = {
      val topRounds = (1 to 2).map { i =>
        s"""ta${i}0 AS (SELECT tqv.cid, tqv.q, t.tid,
           |  ${OSql.cosSql("tqv.cvec", "t.tvec")} AS cc
           | FROM tqv CROSS JOIN t${i - 1} t),
           |ta$i AS (SELECT cid, q, tid FROM ta${i}0
           |  QUALIFY row_number() OVER (PARTITION BY cid
           |    ORDER BY cc DESC, tid ASC) = 1),
           |te$i AS (SELECT tid, pos, q[pos + 1] AS qd FROM (
           |   SELECT tid, q, unnest(generate_series(0, len(q) - 1)) AS pos
           |   FROM ta$i)),
           |tcs$i AS (SELECT tid, pos, CAST(sum(qd) AS BIGINT) AS cd
           |  FROM te$i GROUP BY 1, 2),
           |tarr$i AS (SELECT tid, list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
           |  FROM tcs$i GROUP BY 1),
           |t$i AS (SELECT t.tid, coalesce(tarr$i.nv, t.tvec) AS tvec
           |  FROM t${i - 1} t LEFT JOIN tarr$i USING (tid))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${kmeansFitCtes(2, IvfCells)},
        |tq0 AS (SELECT cid, cvec, list_max(list_transform(cvec,
        |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM c2),
        |tqv AS (SELECT cid, cvec,
        |    CASE WHEN s = 0 THEN list_transform(cvec,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(cvec,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q FROM tq0),
        |t0 AS (SELECT cid AS tid, cvec AS tvec FROM c2
        |  ORDER BY cid LIMIT 8),
        |$topRounds,
        |fb0 AS (SELECT f.cid, f.cvec, t.tid,
        |  ${OSql.cosSql("f.cvec", "t.tvec")} AS cc
        | FROM c2 f CROSS JOIN t2 t),
        |fb AS (SELECT cid, cvec, tid FROM fb0
        |  QUALIFY row_number() OVER (PARTITION BY cid
        |    ORDER BY cc DESC, tid ASC) <= 2),
        |fe AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |vt0 AS (SELECT e.vec_id, t.tid,
        |  ${OSql.cosSql("e.embedding", "t.tvec")} AS cc
        | FROM fe e CROSS JOIN t2 t),
        |vt AS (SELECT vec_id, tid FROM vt0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, tid ASC) <= 3),
        |vf0 AS (SELECT DISTINCT e.vec_id, e.embedding, fb.cid,
        |  ${OSql.cosSql("e.embedding", "fb.cvec")} AS cc
        | FROM fe e JOIN vt ON vt.vec_id = e.vec_id
        |   JOIN fb ON fb.tid = vt.tid),
        |vcell AS (SELECT vec_id, embedding, cid FROM vf0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |vprobe AS (SELECT vec_id AS qid, embedding AS qv, cid FROM vf0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) <= $IvfProbe),
        |sc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin
  }

  /** q46's oracle body — shared verbatim with q174 (the persisted-
    * model probe must land on identical rows as the in-query fit; one
    * truth, two registered plans). */
  private lazy val Sql_q46: String =
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |sc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 3""".stripMargin

  /** q169's oracle body — shared verbatim with q173 (the auto route's
    * sub-boundary arm is q169's refined flat join; the shot CTE
    * conditions the split on the data exactly as the engine's
    * hotCellCount does, so one SQL covers both the split and
    * no-hot-cell arms). */
  private lazy val Sql_q169: String = {
      val rounds = (1 to SplitIters).map { i =>
        s"""ssa${i}0 AS (SELECT shm.vec_id, shm.q, shm.cid, p.scid,
           |  ${OSql.cosSql("shm.embedding", "p.cvec")} AS cc
           | FROM shm JOIN ss${i - 1} p USING (cid)),
           |ssa$i AS (SELECT vec_id, q, cid, scid FROM ssa${i}0
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY cc DESC, scid ASC) = 1),
           |sse$i AS (SELECT cid, scid, pos, q[pos + 1] AS qd FROM (
           |   SELECT cid, scid, q, unnest(generate_series(0, len(q) - 1)) AS pos
           |   FROM ssa$i)),
           |sscs$i AS (SELECT cid, scid, pos, CAST(sum(qd) AS BIGINT) AS cd
           |  FROM sse$i GROUP BY 1, 2, 3),
           |ssarr$i AS (SELECT cid, scid,
           |   list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
           |  FROM sscs$i GROUP BY 1, 2),
           |ss$i AS (SELECT p.cid, p.scid, coalesce(a.nv, p.cvec) AS cvec
           |  FROM ss${i - 1} p LEFT JOIN ssarr$i a
           |    ON p.cid = a.cid AND p.scid = a.scid)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |socc AS (SELECT cid, count(*) AS n FROM vcell GROUP BY 1),
        |shot AS (SELECT cid,
        |   greatest(2, CAST(ceil(n / $SplitTargetOcc.0) AS BIGINT)) AS subk
        | FROM socc WHERE n > $SplitAbove),
        |shm AS (SELECT vcell.vec_id, vcell.embedding, vcell.q, vcell.cid,
        |   shot.subk
        | FROM vcell JOIN shot USING (cid)),
        |ss0 AS (SELECT cid, vec_id AS scid, embedding AS cvec FROM (
        |   SELECT cid, vec_id, embedding, subk,
        |     row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
        |   FROM shm) t WHERE rn <= subk),
        |$rounds,
        |cref AS (SELECT cid, cvec FROM c2
        |   WHERE cid NOT IN (SELECT cid FROM shot)
        |  UNION ALL SELECT scid + ${Similarity.RefineOffset} AS cid, cvec
        |   FROM ss$SplitIters),
        |ra0 AS (SELECT fqv.vec_id, fqv.embedding, c.cid,
        |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
        | FROM fqv CROSS JOIN cref c),
        |rcell AS (SELECT vec_id, embedding, cid FROM ra0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |rprobe AS (SELECT vec_id AS qid, embedding AS qv, cid FROM ra0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) <= $IvfProbe),
        |rsc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM rcell e JOIN rprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM rsc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin
    }

  val all: Seq[Query] = Seq(
    Query("q46_knn_join", Heavy, Sql_q46)(qKnnJoin),
    // q62: q46's LSH skeleton + q61's quantization CTE; the coarse
    // scores are cosines over integer lists (exact in double — every
    // sum < 2^53), so the coarseK=10 shortlist, and with it the rerank
    // input, is bit-identical across engines; both stages tie-break by
    // ascending id like the bounded-heap aggregator.
    Query("q62_knn_quantized", Heavy,
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |co AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.q", "p.qq")} AS cc
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid),
        |short AS (SELECT qid, id FROM co
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY cc DESC, id ASC) <= 10),
        |re AS (SELECT s.qid, s.id,
        |  ${OSql.cosSql("ei.embedding", "eq.embedding")} AS cos
        | FROM short s
        | JOIN embeddings ei ON s.id = ei.vec_id
        | JOIN embeddings eq ON s.qid = eq.vec_id)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM re
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin)(qKnnQuantized),
    // The sample-fit model history unrolled: hash-sample membership as
    // a WHERE predicate (pure function of vec_id — engine hashSample
    // parity), seeds = the IvfCells lowest SAMPLED ids (ORDER BY/LIMIT
    // rule), 2 Lloyd rounds over the sample only; assignment + probes
    // then cover the FULL corpus — the scale-safe split (sampled fit,
    // exhaustive assignment) of SCALING.md's 30× prescription.
    Query("q165_knn_sampled_fit", Heavy,
      s"""WITH ${kmeansFitCtes(2, IvfCells, SamplePredSql, seedLimit = true)},
        |fe AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |vass AS (SELECT fe.vec_id, fe.embedding, c.cid,
        |  ${OSql.cosSql("fe.embedding", "c.cvec")} AS cc
        | FROM fe CROSS JOIN c2 c),
        |vcell AS (SELECT vec_id, embedding, cid FROM vass
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |vprobe AS (SELECT vec_id AS qid, embedding AS qv, cid FROM vass
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) <= $IvfProbe),
        |sc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin)(qKnnSampledFit),
    // The whole two-level structure unrolled from the same corpus fit:
    // top-level Lloyd over the 32 fitted centroids themselves (tqv =
    // per-centroid int8 quantization, t0 = 8 lowest-cid seeds, two
    // update rounds t1/t2 — the kmeansFitCtes shape on a cells-sized
    // table), fines registered under their 2 nearest fitted tops (fb,
    // rn <= 2 — replicated registration), vectors descend their 3 best
    // branches (vt), then assignment (vcell) and 4-deep probes (vprobe)
    // rank the probed branches' fines with a DISTINCT collapsing the
    // replica duplicates — every stage the engine's round-6 comparator
    // with cid-ASC ties (DuckDB NaN-first-under-DESC = the zero-vector
    // rule).
    Query("q166_knn_two_level", Heavy, Sql_q166)(qKnnTwoLevel),
    // q169: the whole split history unrolled on top of q46's registered
    // fit skeleton (ivfKnnCtes: derived cells, sampled fit, full-corpus
    // assignment in vcell): occupancy GROUP BY, hot set with the
    // derived per-parent sub-cell count, seeds = each hot cell's subk
    // lowest member ids, then SplitIters grouped Lloyd rounds
    // (assignment ties cc DESC / scid ASC; integer-exact int8
    // component sums from the same fqv quantization; empty sub-cluster
    // keeps its previous centroid), the refined list cref = cold
    // centroids ∪ (RefineOffset + seed id) sub-centroids, then the
    // standard assignment/probe/candidate tail over cref. Depth
    // [[SplitIters]] = the RecallSweep knee (ivf_split_k32_i2).
    Query("q169_knn_split", Heavy, Sql_q169)(qKnnSplit),
    // q172: the q46 fit skeleton's assignment (vcell), occupancy per
    // cell LEFT-joined onto the full derived centroid list (empty
    // cells report 0), the hot flag at the q169 split threshold and
    // the derived sub-cell count - all exact integers.
    Query("q172_ivf_occupancy", Heavy,
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |rocc AS (SELECT cid, count(*) AS n FROM vcell GROUP BY 1)
        |SELECT CAST(c2.cid AS BIGINT) AS cell,
        |  CAST(coalesce(rocc.n, 0) AS BIGINT) AS n_members,
        |  CAST(CASE WHEN coalesce(rocc.n, 0) > $SplitAbove
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_hot,
        |  CAST(CASE WHEN coalesce(rocc.n, 0) > $SplitAbove
        |    THEN greatest(2, CAST(ceil(coalesce(rocc.n, 0)
        |      / $SplitTargetOcc.0) AS BIGINT))
        |    ELSE 0 END AS BIGINT) AS suggested_subcells
        |FROM c2 LEFT JOIN rocc ON c2.cid = rocc.cid""".stripMargin)(qIvfOccupancy),
    // q173: the auto route's sub-boundary arm IS q169's refined flat
    // join (the refinement conditions itself on the data in both
    // engines — the shot CTE is the engine's hotCellCount), and the
    // above-boundary descent arm is unreachable at oracle scale; one
    // truth, two registered plans (the q171 ≡ q168 convention).
    Query("q173_knn_auto", Heavy, Sql_q169)(qKnnAuto),
    // q174: the persisted-model probe lands on identical rows as the
    // in-query fit — float32 centroids round-trip parquet bit-exactly,
    // so the artifact path and q46's self-contained path share one
    // truth (the q171 ≡ q168 convention applied to the ANN model).
    Query("q174_knn_persisted", Heavy, Sql_q46)(qKnnPersisted),
    // q177: the auto route's ABOVE-BOUNDARY arm is q166's two-level
    // descent verbatim (same derivation/branches/replicas/probes — the
    // boundary knob is lowered to fixture scale so the descent arm
    // actually executes under the driver gate), so the oracle is
    // q166's SQL — one truth, two registered plans
    Query("q177_knn_auto_two_level", Heavy, Sql_q166)(qKnnAutoTwoLevel),
    // q178: sign-cell coverage of the registered prefix seed rule —
    // the q66-family sign-cell sum, the derived cell count (CellsSql)
    // and the prefix boundary (max id of the ORDER BY/LIMIT prefix)
    // as scalar subqueries; covered is the driver-safe 0/1 long
    Query("q178_seed_coverage", Light,
      s"""WITH sd AS (SELECT vec_id FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY vec_id) <= $CellsSql),
        |b0 AS (SELECT vec_id, CAST(${(0 until 4).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
            .mkString(" + ")} AS BIGINT) AS cell
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT cell, count(*) AS n_corpus,
        |  CAST(sum(CASE WHEN vec_id <= (SELECT max(vec_id) FROM sd)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
        |  CAST(CASE WHEN sum(CASE WHEN vec_id <=
        |      (SELECT max(vec_id) FROM sd) THEN 1 ELSE 0 END) > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS covered
        |FROM b0 GROUP BY cell""".stripMargin)(qSeedCoverage),
  )
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Dedup, Similarity}
import Tables.cpuTable
import Models.{AnnBits, AnnHamming, LshMaxBucket, SemProbes}
import Query.Heavy

/** Embedding-space work: brute-force and sign-LSH similarity, cosine
  * near-dup, int8 quantization, semantic dedup, random projection and the
  * vector corpus update. */
object VectorQueries {

  private def qSimTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
  }

  private def qSimLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    Similarity.lshTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5,
      signBits = AnnBits, probeHamming = AnnHamming)
  }

  private def qCosineNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDupPairs(cpuTable(s, dir, "embeddings"), "vec_id",
      col("embedding"), signBits = 8, threshold = 0.9, maxBucket = LshMaxBucket)

  /** Int8 embedding quantization ([[Similarity.quantizeInt8]]),
    * projected to hash-stable facts per vector: dims, the 6-dp scale,
    * an md5 over the comma-joined quantized components (every element
    * participates in the hash), and their exact integer sum. */
  private def qQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(cpuTable(s, dir, "embeddings"), "embedding")
      .select(col("vec_id"),
        size(col("qvec")).cast("long").as("n_dims"),
        round(col("scale"), 6).as("scale6"),
        md5(array_join(transform(col("qvec"), x => x.cast("string")), ","))
          .as("q_md5"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long"))
          .as("q_sum"))

  /** Semantic (SemDeDup-style) dedup over embeddings
    * ([[Dedup.semanticDedup]]): sign-bucket cells, integer-exact int8
    * centroid, most-central representative, drop members at int8 cosine
    * ≥ 0.35 to it (the corpus's embeddings are near-orthogonal — within-
    * cell cosines top out ~0.43 — so a production-style 0.9 would make
    * the drop path vacuous; 0.35 exercises it on real rows). Output =
    * survivors with their cell, representative flag, and 6-dp cosine to
    * the representative. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(cpuTable(s, dir, "embeddings"), "vec_id",
      col("embedding"), signBits = 8, threshold = 0.35,
      maxBucket = LshMaxBucket, probes = SemProbes)

  /** Embedding-side incremental dedup ([[Dedup.cosineMatchedAgainst]] +
    * [[Dedup.dropNearDupsAgainst]]): q63's crawl-vs-corpus shape over
    * vectors — the standing index is the vec_id % 4 == 0 quarter, the
    * incoming batch the rest; incoming vectors at exact 6-dp cosine
    * ≥ 0.3 to any same-cell reference vector are dropped (the corpus's
    * embeddings are near-orthogonal, so a production-style 0.9 would
    * make the drop path vacuous — 0.3 exercises it on real rows). Same
    * signBits/cap constants as q28, so the cell fragments mirror.
    * probes = 4: the standing index registers each vector under its
    * own cell + its 3 least-confident single-bit flips
    * ([[graft.ops.Similarity.probeCells]]), catching matches the
    * same-cell form misses (measured on this fixture at sf0.01:
    * 23 of 375 incoming matched at probes = 4 vs 11 at probes = 1 —
    * 2.1× the recall; the superset property is pinned in
    * `CurationOpsSpec`) while the incoming side still probes with
    * one equi-join key. */
  private def qCosineIncremental(s: SparkSession, dir: String): DataFrame = {
    val embs = cpuTable(s, dir, "embeddings")
    val matched = Dedup.cosineMatchedAgainst(
      embs.filter(col("vec_id") % 4 =!= 0),
      embs.filter(col("vec_id") % 4 === 0),
      "vec_id", col("embedding"), signBits = 8, threshold = 0.3,
      maxBucket = LshMaxBucket, probes = 4)
    Dedup.dropNearDupsAgainst(
      embs.filter(col("vec_id") % 4 =!= 0).select(col("vec_id"), col("label")),
      "vec_id", matched)
  }

  /** q66's embedding-side incremental dedup through the STREAM-SAFE
    * single-anti-join form ([[Dedup.cosineDropAgainstLive]]): same data
    * split, sign bits, threshold, static-side cap, and probes = 4
    * multi-probe registration; the one contract difference (the stream
    * side cannot be occupancy-capped) is reflected in this query's own
    * oracle — the incoming side carries no QUALIFY cap. */
  private def qCosineIngest(s: SparkSession, dir: String): DataFrame = {
    val embs = cpuTable(s, dir, "embeddings")
    Dedup.cosineDropAgainstLive(
      embs.filter(col("vec_id") % 4 =!= 0).select(col("vec_id"), col("label"),
        col("embedding")),
      embs.filter(col("vec_id") % 4 === 0),
      "vec_id", col("embedding"), signBits = 8, threshold = 0.3,
      maxBucket = LshMaxBucket, probes = 4)
      .select(col("vec_id"), col("label"))
  }

  /** JL random projection ([[graft.ops.Similarity.randomProjectInt8]]):
    * 64 → 16 dims over int8-quantized vectors with a deterministic ±1
    * matrix — exact integer components, q80-style hash-stable facts. */
  private def qRandomProject(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.randomProjectInt8(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      "embedding", dim = 64, outDim = 16, seed = "jl1")
      .select(col("vec_id"),
        md5(array_join(transform(col("proj"), _.cast("string")), ","))
          .as("p_md5"),
        aggregate(col("proj"), lit(0L), _ + _).as("p_sum"))

  /** End-to-end EMBEDDING pipeline — the vector stack's q91: three
    * oracle-gated operators COMPOSED into one lazy plan. Semantic
    * dedup (q64's constants) picks the survivors; labels are masked
    * off two-thirds of them and label propagation (q106's constants,
    * run WITHIN the survivor set) fills them back; the final labeled
    * corpus summarizes per label with membership-sensitive facts
    * (count + id-sum — any survivor-set or vote flip moves the hash).
    * Unlabeled survivors whose probed cells hold no labeled neighbor
    * drop out, exactly as q106 documents. */
  private def qEmbeddingE2E(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Similarity}
    // ONE cached narrow projection of the corpus feeds both operator
    // subtrees: semanticDedup's internal quantize pass and the masked
    // label join below each consumed their own parquet scan + scatter
    // exchange of the embeddings — at 100 TB that is the whole corpus
    // read twice for one query (guide §6 / §2.4). The cache holds only
    // the three columns the composition touches.
    val embs = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label")))
    val surv = Dedup.semanticDedup(embs, "vec_id", col("embedding"),
      signBits = 8, threshold = 0.35, maxBucket = LshMaxBucket,
      probes = SemProbes)
      .select(col("vec_id"))
    // labelPropagate consumes its input THREE times (labeled side,
    // probe side, vote join-back); without this cache the whole
    // semantic-dedup subtree recomputes per consumer — measured 8.3 s
    // -> 5.0 s at sf0.1 (3-rep min, same box)
    val masked = graft.ops.CacheScope.session.cache(
      embs.join(surv, Seq("vec_id"), "left_semi")
        .withColumn("lbl", when(col("vec_id") % 3 === 0, col("label"))))
    val predicted = Similarity.labelPropagate(masked, "vec_id",
      "embedding", "lbl", k = 5, signBits = 8, probeHamming = 1,
      maxBucketOccupancy = LshMaxBucket)
      .select(col("vec_id"), col("lbl"))
    masked.filter(col("lbl").isNotNull).select(col("vec_id"), col("lbl"))
      .unionByName(predicted)
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_ids"))
  }

  /** q176: the standing VECTOR corpus updated between batches (r19 —
    * q175's two-batch discipline on the embedding side, closing the
    * crawl loop for cosine ingest dedup): batch 1 (vec_id % 4 ∈
    * {1, 2}) is dropped against the standing reference (% 4 == 0) by
    * [[graft.ops.Dedup.cosineMatchedAgainst]] (q66's exact constants —
    * 8 sign bits, 4-probe registration, 0.3 threshold, occupancy
    * caps), its SURVIVORS JOIN THE CORPUS, and batch 2 (% 4 == 3) is
    * dropped against reference ∪ batch-1 survivors — so a near-dup of
    * an ADMITTED crawl document is rejected even though it matches
    * nothing in the original reference. Within-batch duplication
    * stays out of scope (the family contract; run q28/q64 within the
    * batch). The oracle unrolls both rounds: batch-1 match/anti,
    * the union corpus's 4-probe re-registration, batch-2 match/anti —
    * every stage q66's conventions verbatim. Output: batch 2's
    * surviving (vec_id, label). */
  private def qVectorCorpusUpdate(s: SparkSession, dir: String): DataFrame = {
    val embs = cpuTable(s, dir, "embeddings")
    val ref = embs.filter(col("vec_id") % 4 === 0)
    val b1 = embs.filter(col("vec_id") % 4 === 1 || col("vec_id") % 4 === 2)
    val b2 = embs.filter(col("vec_id") % 4 === 3)
    // batch-1 survivors feed the union's BOTH probe registrations and
    // the match join — one materialization (the q175 convention)
    val s1 = CacheScope.session.cache(
      Dedup.dropNearDupsAgainst(b1, "vec_id",
        Dedup.cosineMatchedAgainst(b1, ref, "vec_id", col("embedding"),
          signBits = 8, threshold = 0.3, maxBucket = LshMaxBucket,
          probes = 4)))
    val ref2 = ref.unionByName(s1)
    Dedup.dropNearDupsAgainst(
      b2.select(col("vec_id"), col("label")), "vec_id",
      Dedup.cosineMatchedAgainst(b2, ref2, "vec_id", col("embedding"),
        signBits = 8, threshold = 0.3, maxBucket = LshMaxBucket,
        probes = 4))
  }

  val all: Seq[Query] = Seq(
    Query("q26_sim_topk", Heavy,
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
        |    * sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6) AS cos
        | FROM embeddings e, q)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10""".stripMargin)(qSimTopK),
    Query("q27_sim_lsh", Heavy,
      s"""WITH b AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |q0 AS (SELECT vec_id AS qid, embedding AS qv, bkt FROM b WHERE vec_id < 5),
        |q AS (SELECT qid, qv, unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM q0),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
        |    * sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6) AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5""".stripMargin)(qSimLsh),
    Query("q28_cosine_neardup", Heavy,
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0 QUALIFY count(*) OVER (PARTITION BY bkt) <= 1000)
        |SELECT * FROM (
        | SELECT x.vec_id AS a, y.vec_id AS b,
        |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(x.embedding, y.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(x.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
        |    * sqrt(list_reduce(list_prepend(0.0, list_transform(y.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6) AS cos
        | FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id)
        |WHERE cos >= 0.9""".stripMargin)(qCosineNearDup),
    // q61: fixed operation order ((x·127)/s, max over double-widened
    // floats) makes the doubles bit-identical; 1-arg round is
    // away-from-zero on both engines (Spark HALF_UP == away-from-zero);
    // the md5 commits every quantized component to the hash.
    Query("q61_quantize_int8", Heavy,
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |v AS (SELECT vec_id, s,
        |    CASE WHEN s = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS INTEGER))
        |    END AS qv
        |  FROM q)
        |SELECT vec_id,
        |  CAST(len(qv) AS BIGINT) AS n_dims,
        |  round(s, 6) AS scale6,
        |  md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |    ',')) AS q_md5,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum
        |FROM v""".stripMargin)(qQuantizeInt8),
    // Same int8 quantization as q61/q62, sign-bucket cells as q27/q28;
    // integer-exact centroid sums via the positional explode, score =
    // dot/sqrt(nsq) (exact ints + IEEE sqrt/divide, so the argmax
    // agrees bit-for-bit), pairwise int8 cosine with Int8Cos's
    // zero-norm-is-0.0 convention, capped cells passed through.
    Query("q64_semantic_dedup", Heavy,
      s"""WITH ${OSql.semDedupCtes}
        |SELECT vec_id, CAST(bkt AS BIGINT) AS bucket, is_rep, cos_rep FROM p
        |WHERE nsq = 0 OR (is_rep AND NOT killed)
        |   OR (NOT is_rep AND cos_rep < 0.35)
        |UNION ALL
        |SELECT vec_id, CAST(bkt AS BIGINT) AS bucket, false AS is_rep,
        |  CAST(NULL AS DOUBLE) AS cos_rep FROM cap""".stripMargin)(qSemanticDedup),
    // q28's cell construction with asymmetric sides (each QUALIFY-capped
    // on its own REGISTERED occupancy), the reference side expanded to
    // its probes=4 multi-probe cells (own cell + xor of the 3
    // smallest-|component| bits, ties by ascending dim — probeCells'
    // order), the 6-dp cosine at the cut, and q63's NOT IN consumer.
    Query("q66_cosine_incremental", Heavy,
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |i AS (SELECT * FROM b0 WHERE vec_id % 4 <> 0
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |${OSql.refProbeCte(probes = 4)}
        |r AS (SELECT * FROM rall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m AS (SELECT DISTINCT i.vec_id FROM i JOIN r ON i.bkt = r.bkt
        |  WHERE ${OSql.cosSql("i.embedding", "r.embedding")} >= 0.3)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 4 <> 0 AND vec_id NOT IN (SELECT vec_id FROM m)""".stripMargin)(qCosineIncremental),
    // q66's construction with the incoming side UNCAPPED (the live
    // form's contract: only the static index is occupancy-capped);
    // the static side carries the same probes=4 registration cells.
    Query("q78_cosine_ingest", Heavy,
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |i AS (SELECT * FROM b0 WHERE vec_id % 4 <> 0),
        |${OSql.refProbeCte(probes = 4)}
        |r AS (SELECT * FROM rall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m AS (SELECT DISTINCT i.vec_id FROM i JOIN r ON i.bkt = r.bkt
        |  WHERE ${OSql.cosSql("i.embedding", "r.embedding")} >= 0.3)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 4 <> 0 AND vec_id NOT IN (SELECT vec_id FROM m)""".stripMargin)(qCosineIngest),
    // q61's quantization replay, then the projection components as
    // generated exact-integer sums — the ±1 matrix is baked from the
    // SAME jlSign constants as the operator (the OSql convention), so
    // matrix drift is impossible.
    Query("q92_random_project", Heavy, {
      val comps = (0 until 16).map { j =>
        (0 until 64).map { i =>
          val s = graft.ops.Similarity.jlSign("jl1", i, j)
          s"qv[${i + 1}]*($s)"
        }.mkString("+")
      }.map(e => s"CAST($e AS BIGINT)").mkString(", ")
      s"""WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |v AS (SELECT vec_id,
        |    CASE WHEN embedding IS NULL THEN NULL
        |         WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS qv
        |  FROM q),
        |p AS (SELECT vec_id, CASE WHEN qv IS NULL THEN NULL
        |    ELSE [$comps] END AS proj FROM v)
        |SELECT vec_id,
        |  md5(array_to_string(list_transform(proj,
        |    x -> CAST(x AS VARCHAR)), ',')) AS p_md5,
        |  CAST(list_sum(proj) AS BIGINT) AS p_sum
        |FROM p""".stripMargin
    })(qRandomProject),
    // q64's CTE chain supplies the survivor set; q106's propagation
    // machinery runs WITHIN it (labeled third capped per cell, probes
    // over the unlabeled two-thirds, vote argmax with low-label ties);
    // the summary carries count + id-sum so any membership or vote
    // flip moves the hash.
    Query("q118_embedding_e2e", Heavy,
      s"""WITH ${OSql.semDedupCtes},
        |surv AS (SELECT vec_id FROM p
        |   WHERE nsq = 0 OR (is_rep AND NOT killed)
        |      OR (NOT is_rep AND cos_rep < 0.35)
        |  UNION ALL SELECT vec_id FROM cap),
        |sb AS (SELECT e.vec_id, e.embedding, e.label, ${(0 until 8).map(i =>
            s"(CASE WHEN e.embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS sbkt
        |  FROM embeddings e JOIN surv USING (vec_id)),
        |lab AS (SELECT * FROM sb WHERE vec_id % 3 = 0),
        |qq AS (SELECT vec_id AS qid, embedding AS qv,
        |   unnest([sbkt${(0 until 8).map(i => s", xor(sbkt, ${1L << i})").mkString}]) AS sbkt
        | FROM sb WHERE vec_id % 3 <> 0),
        |nn AS (SELECT qq.qid, e.vec_id AS id, e.label,
        |  ${OSql.cosSql("e.embedding", "qq.qv")} AS cos
        | FROM lab e JOIN qq ON e.sbkt = qq.sbkt
        | QUALIFY row_number() OVER (PARTITION BY qq.qid
        |   ORDER BY cos DESC, id ASC) <= 5),
        |v AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY 1, 2),
        |pr AS (SELECT qid AS vec_id, label FROM (
        |  SELECT qid, label, row_number() OVER (PARTITION BY qid
        |    ORDER BY votes DESC, label ASC) AS rn FROM v) WHERE rn = 1),
        |fin AS (SELECT vec_id, label FROM sb WHERE vec_id % 3 = 0
        |  UNION ALL SELECT vec_id, label FROM pr)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_members,
        | CAST(sum(vec_id) AS BIGINT) AS sum_ids
        |FROM fin GROUP BY 1""".stripMargin)(qEmbeddingE2E),
    // q176: q66's machinery unrolled TWICE — batch-1 match/anti
    // against the reference registration, then the union corpus
    // (reference ∪ batch-1 survivors) re-registers under its 4 probe
    // cells and batch 2 matches against it; occupancy caps per side
    // per round, exactly as each cosineMatchedAgainst call caps.
    Query("q176_vector_corpus_update", Heavy,
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |i1 AS (SELECT * FROM b0 WHERE vec_id % 4 IN (1, 2)
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |${OSql.refProbeCte(probes = 4)}
        |r1 AS (SELECT * FROM rall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m1 AS (SELECT DISTINCT i1.vec_id FROM i1 JOIN r1 ON i1.bkt = r1.bkt
        |  WHERE ${OSql.cosSql("i1.embedding", "r1.embedding")} >= 0.3),
        |u AS (SELECT vec_id, label, embedding, bkt FROM b0
        |  WHERE vec_id % 4 = 0
        |  UNION ALL SELECT vec_id, label, embedding, bkt FROM b0
        |  WHERE vec_id % 4 IN (1, 2)
        |    AND vec_id NOT IN (SELECT vec_id FROM m1)),
        |ux AS (SELECT vec_id, label, embedding,
        |    xor(bkt, CAST(power(2, i) AS BIGINT)) AS bkt
        |  FROM (SELECT u.*, t.i, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY abs(embedding[t.i + 1]) ASC, t.i ASC) AS rnk
        |    FROM u, range(0, 8) t(i)) WHERE rnk <= 3),
        |uall AS (SELECT * FROM u
        |  UNION ALL SELECT vec_id, label, embedding, bkt FROM ux),
        |r2 AS (SELECT * FROM uall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |i2 AS (SELECT * FROM b0 WHERE vec_id % 4 = 3
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m2 AS (SELECT DISTINCT i2.vec_id FROM i2 JOIN r2 ON i2.bkt = r2.bkt
        |  WHERE ${OSql.cosSql("i2.embedding", "r2.embedding")} >= 0.3)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 4 = 3 AND vec_id NOT IN (SELECT vec_id FROM m2)""".stripMargin)(qVectorCorpusUpdate),
  )
}

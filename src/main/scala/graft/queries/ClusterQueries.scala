package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Similarity, TextAnalysis}
import Tables.{corpusStamp, cpuTable, table}
import Models.{registeredCentroids, seedCentroids}
import OSql.{CellsSql, kmeansFitCtes, SamplePredSql, Sql_q156}
import Query.Heavy

/** Centroid fits and their consumers: IVF over seed and fitted centroids,
  * Lloyd steps and fits, label centroids, drift and refit of a standing
  * quantizer, cluster cards. */
object ClusterQueries {

  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "embeddings")
    val emb = graft.sources.Sources.scatter(raw)
    // centroids are a model parameter (production: offline k-means —
    // see q156 for the FITTED variant); the 8 lowest-id corpus vectors
    // make the cell assignment deterministic and oracle-mirrorable.
    val cents = seedCentroids(raw, 8)
    Similarity.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      cents, k = 5, nProbe = 2)
  }

  /** Integer-exact per-label centroids
    * ([[Similarity.centroidByGroup]]), projected to hash-stable facts
    * (q61's convention): the md5 over comma-joined component sums plus
    * their exact total. */
  private def qCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidByGroup(cpuTable(s, dir, "embeddings"), "label",
      "embedding")
      .select(col("label"), col("n_vecs"), col("n_null"),
        md5(array_join(transform(col("centroid_sum"),
          x => x.cast("string")), ",")).as("c_md5"),
        aggregate(col("centroid_sum"), lit(0L), (a, x) => a + x).as("c_sum"))

  /** One k-means Lloyd iteration ([[Similarity.kmeansStepInt8]]) over
    * the embedding corpus, seeded with the q37 IVF centroids (the 8
    * lowest-id vectors, a driver-side 8-row model fetch): assignment is
    * the narrow codegen cosine chain, the new centroids integer-exact
    * int8 sums, projected to the q61/q80 hash-stable facts. */
  private def qKmeansStep(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "embeddings")
    Similarity.kmeansStepInt8(
      graft.sources.Sources.scatter(raw).select(col("vec_id"), col("embedding")),
      "embedding", seedCentroids(raw, 8))
      .select(col("cluster").cast("long").as("cluster"), col("n_vecs"),
        md5(array_join(transform(col("centroid_sum"), _.cast("string")), ","))
          .as("c_md5"),
        aggregate(col("centroid_sum"), lit(0L), _ + _).as("c_sum"))
  }

  /** q155: iterative k-means fit ([[Similarity.kmeansFitInt8]] — two
    * Lloyd rounds from the q98 seed, int8-exact updates, FLOAT-cast
    * centroids) emitting the fitted assignment's per-cluster stats in
    * q98's shape: the oracle unrolls both rounds as CTEs, so c_md5
    * moves if ANY round's assignment flips anywhere — DuckDB confirms
    * the whole iteration exactly, the q113 discipline. */
  private def qKmeansFit(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "embeddings")
    val embs = graft.sources.Sources.scatter(raw)
      .select(col("vec_id"), col("embedding"))
    val fitted = CacheScope.session.model(("kmeansFit8", dir, corpusStamp(dir), 8, 2)) {
      Similarity.kmeansFitInt8(embs, "embedding", seedCentroids(raw, 8), iters = 2)
    }
    Similarity.kmeansStepInt8(embs, "embedding", fitted)
      .select(col("cluster").cast("long").as("cluster"), col("n_vecs"),
        md5(array_join(transform(col("centroid_sum"), _.cast("string")), ","))
          .as("c_md5"),
        aggregate(col("centroid_sum"), lit(0L), _ + _).as("c_sum"))
  }

  /** q156: IVF top-k over FITTED centroids — [[Similarity.ivfTopK]]
    * consuming [[Similarity.kmeansFitInt8]]'s output instead of the raw
    * seed (q37's remaining gap): the coarse quantizer is now trained on
    * the data, which is what makes IVF the recall-per-scanned-row
    * winner on sign-unstable embeddings (measured in SCALING.md's ANN
    * recall sweep). Same query/probe conventions as q37. */
  private def qIvfFitted(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    Similarity.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      registeredCentroids(s, dir), k = 5, nProbe = 2)
  }

  /** q160/q161's STANDING quantizer — the q156-discipline fit restricted
    * to the standing three quarters (vec_id % 4 ≠ 0, 43 lowest-id
    * standing seeds ⇒ 32 cells), memoized like [[fittedCentroids]]:
    * both maintenance queries replay the same model history, so the
    * fit is keyed once per corpus. */
  private def standingCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    CacheScope.session.model(("standingCentroids", dir,
      corpusStamp(dir), 43, 2)) {
      val seeds = table(s, dir, "embeddings")
        .filter(col("vec_id") % 4 =!= 0 && col("vec_id") < 43)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
      Similarity.kmeansFitInt8(
        table(s, dir, "embeddings").filter(col("vec_id") % 4 =!= 0)
          .select(col("vec_id"), col("embedding")),
        "embedding", seeds, iters = 2)
    }

  /** q160: IVF index drift monitor ([[Similarity.ivfDrift]]) — the
    * standing 3/4 of the corpus carries the fitted quantizer (32
    * standing seeds below id 43, 2 Lloyd rounds — the q157 batch
    * convention on the q156 fit discipline); the arriving quarter
    * assigns to it and each cell reports growth + cohesion + a refit
    * trigger. The oracle unrolls the standing-only fit and both
    * assignment passes; all stats are exact integers (bp), so the
    * whole maintenance decision is hash-pinned. */
  private def qIvfDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val standing = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    Similarity.ivfDrift(standing, batch, "embedding",
      standingCentroids(s, dir),
      cohesionFloorBp = 3500, growthCapBp = 5000)
  }

  /** q161: warm-start IVF refit migration ([[Similarity
    * .ivfRefitReport]]) — the repair step q160's triggers call for:
    * the standing quantizer (q160's exact fit) takes ONE more Lloyd
    * round over the GROWN corpus (warm start — ids keep their cells'
    * identity), and the report counts per-cell stay/in/out migration,
    * deciding relabel-vs-rebuild. The oracle unrolls the standing fit,
    * the full-corpus refit round, and both assignment passes — every
    * emitted count is hash-pinned through the entire model history. */
  private def qIvfRefit(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val oldC = standingCentroids(s, dir)
    val newC = Similarity.kmeansFitInt8(
      emb.select(col("vec_id"), col("embedding")), "embedding",
      oldC, iters = 1)
    Similarity.ivfRefitReport(emb, "embedding", oldC, newC)
  }

  /** q162: cluster cards — the fitted quantizer's cells labeled by
    * their top-3 distinguishing tokens ([[TextAnalysis
    * .distinguishingTokens]] over the doc_id ↔ vec_id linkage): the
    * human-readable answer to "what did the quantizer put in this
    * cell", pairing with q160's occupancy/cohesion numbers. Exact
    * integers end to end (distinctiveness weight tf·(n_groups−df+1) —
    * the rational-idf ordering with no float); ties by the vocabTopK
    * hash60 convention. */
  private def qClusterCard(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val docs = cpuTable(s, dir, "documents")
    val cents = registeredCentroids(s, dir)
    val assigned = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        Similarity.ivfCell(col("embedding"), cents).cast("long").as("cell"))
    val clustered = assigned.join(
      docs.select(col("doc_id").as("vec_id"), col("text")), "vec_id")
    TextAnalysis.distinguishingTokens(clustered, "cell", col("text"), k = 3)
  }

  val all: Seq[Query] = Seq(
    Query("q37_sim_ivf", Heavy,
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
        |a0 AS (SELECT e.vec_id, e.embedding, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c),
        |a AS (SELECT vec_id, embedding, cid FROM a0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) = 1),
        |q0 AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |p0 AS (SELECT q0.qid, q0.qv, c.cid,
        |  ${OSql.cosSql("q0.qv", "c.cvec")} AS cc
        | FROM q0 CROSS JOIN c),
        |p AS (SELECT qid, qv, cid FROM p0
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid ASC) <= 2),
        |sc AS (SELECT p.qid, a.vec_id AS id,
        |  ${OSql.cosSql("a.embedding", "p.qv")} AS cos
        | FROM a JOIN p ON a.cid = p.cid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5""".stripMargin)(qSimIvf),
    // q64's quantization fragments, summed per label; the array
    // projected to q61-style hash-stable facts.
    Query("q80_label_centroids", Heavy,
      """WITH qz AS (SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (SELECT vec_id, label,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q
        |  FROM qz),
        |e0 AS (SELECT label, q,
        |    unnest(generate_series(0, len(q) - 1)) AS pos FROM qv),
        |e AS (SELECT label, pos, q[pos + 1] AS qd FROM e0),
        |c AS (SELECT label, pos, sum(qd) AS cd FROM e GROUP BY 1, 2),
        |a AS (SELECT label, list(cd ORDER BY pos) AS cent,
        |    sum(cd) AS c_sum FROM c GROUP BY 1),
        |k AS (SELECT label, count(embedding) AS n_vecs,
        |    sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS n_null
        |  FROM embeddings GROUP BY 1)
        |SELECT k.label, CAST(k.n_vecs AS BIGINT) AS n_vecs,
        | CAST(k.n_null AS BIGINT) AS n_null,
        | md5(array_to_string(list_transform(a.cent,
        |   x -> CAST(x AS VARCHAR)), ',')) AS c_md5,
        | CAST(a.c_sum AS BIGINT) AS c_sum
        |FROM k JOIN a USING (label)""".stripMargin)(qCentroids),
    // q37's assignment CTE (6-dp cosine argmax, ties to the lowest
    // centroid id) + q61's quantization + q80's positional-explode
    // integer centroid sums, projected to the same hash-stable facts.
    Query("q98_kmeans_step", Heavy,
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
        |  FROM embeddings WHERE vec_id < 8),
        |a0 AS (SELECT e.vec_id, e.embedding, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c WHERE e.embedding IS NOT NULL),
        |a AS (SELECT vec_id, embedding, cid FROM a0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |qz AS (SELECT cid, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s FROM a),
        |qv AS (SELECT cid,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q
        |  FROM qz),
        |e0 AS (SELECT cid, q,
        |    unnest(generate_series(0, len(q) - 1)) AS pos FROM qv),
        |e AS (SELECT cid, pos, q[pos + 1] AS qd FROM e0),
        |cs AS (SELECT cid, pos, CAST(sum(qd) AS BIGINT) AS cd
        |  FROM e GROUP BY 1, 2),
        |arr AS (SELECT cid, list(cd ORDER BY pos) AS csum FROM cs GROUP BY 1),
        |n AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM a GROUP BY 1)
        |SELECT CAST(arr.cid AS BIGINT) AS cluster, n.n_vecs,
        |  md5(array_to_string(list_transform(csum,
        |    x -> CAST(x AS VARCHAR)), ',')) AS c_md5,
        |  CAST(list_sum(csum) AS BIGINT) AS c_sum
        |FROM arr JOIN n USING (cid)""".stripMargin)(qKmeansStep),
    // Two fit rounds unrolled (kmeansFitCtes mirrors the engine's
    // assignment/update/empty-cell rules exactly), then round 3's
    // assignment supplies the emitted stats — c_md5 over the component
    // sums moves if ANY round's assignment flips anywhere.
    Query("q155_kmeans_fit", Heavy,
      s"""WITH ${kmeansFitCtes(3)},
        |karrb AS (SELECT cid, list(cd ORDER BY pos) AS csum
        |  FROM kcs3 GROUP BY 1),
        |kn AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM ka3 GROUP BY 1)
        |SELECT CAST(karrb.cid AS BIGINT) AS cluster, kn.n_vecs,
        |  md5(array_to_string(list_transform(csum,
        |    x -> CAST(x AS VARCHAR)), ',')) AS c_md5,
        |  CAST(list_sum(csum) AS BIGINT) AS c_sum
        |FROM karrb JOIN kn USING (cid)""".stripMargin)(qKmeansFit),
    // q37's IVF probe against the TRAINED coarse quantizer: the same
    // fit unroll supplies c2, then assignment/probe/top-k as in q37
    // (shared with the q149 eval card's ivf_recall metric).
    Query("q156_ivf_fitted", Heavy, Sql_q156)(qIvfFitted),
    // Standing-only fit unroll (predicate-filtered kmeansFitCtes),
    // both assignment passes, exact-integer bp stats; the +10000·n
    // shift keeps the cohesion division over non-negative operands
    // (trunc-vs-floor integer division diverges on negatives).
    Query("q160_ivf_drift", Heavy,
      s"""WITH ${kmeansFitCtes(2, 43, "vec_id % 4 <> 0")},
        |sa AS (SELECT kee.vec_id, c.cid,
        |  ${OSql.cosSql("kee.embedding", "c.cvec")} AS cc
        | FROM kee CROSS JOIN c2 c),
        |ssel AS (SELECT vec_id, cid FROM sa
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |scount AS (SELECT cid, count(*) AS ns FROM ssel GROUP BY 1),
        |bat AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 4 = 0 AND embedding IS NOT NULL),
        |ba0 AS (SELECT b.vec_id, c.cid,
        |  ${OSql.cosSql("b.embedding", "c.cvec")} AS cc
        | FROM bat b CROSS JOIN c2 c),
        |ba AS (SELECT vec_id, cid, CAST(round(cc * 10000, 0) AS BIGINT) AS bp
        |  FROM ba0 QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |bs AS (SELECT cid, count(*) AS nn, sum(bp) AS sbp,
        |    min(bp) AS mbp FROM ba GROUP BY 1)
        |SELECT CAST(c2.cid AS BIGINT) AS cell,
        |  CAST(coalesce(scount.ns, 0) AS BIGINT) AS n_standing,
        |  CAST(coalesce(bs.nn, 0) AS BIGINT) AS n_new,
        |  CAST((coalesce(bs.nn, 0) * 10000)
        |    // greatest(coalesce(scount.ns, 0), 1) AS BIGINT) AS growth_bp,
        |  CASE WHEN coalesce(bs.nn, 0) > 0 THEN
        |    CAST((bs.sbp + 10000 * bs.nn) // bs.nn AS BIGINT) - 10000
        |  END AS cohesion_bp,
        |  CASE WHEN coalesce(bs.nn, 0) > 0 THEN CAST(bs.mbp AS BIGINT)
        |  END AS min_cos_bp,
        |  (CASE WHEN coalesce(bs.nn, 0) > 0 THEN
        |     (CAST((bs.sbp + 10000 * bs.nn) // bs.nn AS BIGINT) - 10000) < 3500
        |   ELSE FALSE END
        |   OR CAST((coalesce(bs.nn, 0) * 10000)
        |     // greatest(coalesce(scount.ns, 0), 1) AS BIGINT) > 5000)
        |    AS needs_refit
        |FROM c2 LEFT JOIN scount USING (cid) LEFT JOIN bs USING (cid)""".stripMargin)(qIvfDrift),
    // Standing fit (c2) + ONE warm-start Lloyd round over the FULL
    // corpus (fqv — full-corpus quantization, fa — assignment under
    // the OLD quantizer, farr/c3 — the int8-exact update) + both
    // assignment passes joined per vector; per-cell exact-integer
    // migration counts.
    Query("q161_ivf_refit", Heavy,
      s"""WITH ${kmeansFitCtes(2, 43, "vec_id % 4 <> 0")},
        |fke AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |fqz AS (SELECT vec_id, embedding, list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM fke),
        |fqv AS (SELECT vec_id, embedding,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q FROM fqz),
        |fa0 AS (SELECT fqv.vec_id, fqv.q, c.cid,
        |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
        | FROM fqv CROSS JOIN c2 c),
        |fa AS (SELECT vec_id, q, cid FROM fa0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |fe AS (SELECT cid, pos, q[pos + 1] AS qd FROM (
        |   SELECT cid, q, unnest(generate_series(0, len(q) - 1)) AS pos
        |   FROM fa)),
        |fcs AS (SELECT cid, pos, CAST(sum(qd) AS BIGINT) AS cd
        |  FROM fe GROUP BY 1, 2),
        |farr AS (SELECT cid, list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
        |  FROM fcs GROUP BY 1),
        |c3 AS (SELECT c.cid, coalesce(farr.nv, c.cvec) AS cvec
        |  FROM c2 c LEFT JOIN farr USING (cid)),
        |na0 AS (SELECT fqv.vec_id, c.cid,
        |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
        | FROM fqv CROSS JOIN c3 c),
        |na AS (SELECT vec_id, cid FROM na0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |mv AS (SELECT fa.vec_id, fa.cid AS oc, na.cid AS nc
        |  FROM fa JOIN na USING (vec_id)),
        |bef AS (SELECT oc AS cid, count(*) AS nb FROM mv GROUP BY 1),
        |aft AS (SELECT nc AS cid, count(*) AS nf,
        |    sum(CASE WHEN oc = nc THEN 1 ELSE 0 END) AS nst
        |  FROM mv GROUP BY 1)
        |SELECT CAST(c2.cid AS BIGINT) AS cell,
        |  CAST(coalesce(bef.nb, 0) AS BIGINT) AS n_before,
        |  CAST(coalesce(aft.nf, 0) AS BIGINT) AS n_after,
        |  CAST(coalesce(aft.nst, 0) AS BIGINT) AS n_stay,
        |  CAST(coalesce(aft.nf, 0) - coalesce(aft.nst, 0) AS BIGINT) AS n_in,
        |  CAST(coalesce(bef.nb, 0) - coalesce(aft.nst, 0) AS BIGINT) AS n_out
        |FROM c2 LEFT JOIN bef USING (cid) LEFT JOIN aft USING (cid)""".stripMargin)(qIvfRefit),
    // The q156 fit + assignment, documents joined on doc_id = vec_id,
    // (cell, token) counts scored by the exact-integer distinctiveness
    // weight tf·(n_groups − group_df + 1), top-3 by (score desc,
    // md5-hash60(token) asc) — vocabTopK's heap tie convention.
    Query("q162_cluster_card", Heavy,
      s"""WITH ${kmeansFitCtes(2, pred = SamplePredSql, kcSql = CellsSql,
          seedPred = "TRUE")},
        |av0 AS (SELECT e.vec_id, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c2 c
        | WHERE e.embedding IS NOT NULL),
        |av AS (SELECT vec_id, cid FROM av0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |dt0 AS (SELECT av.cid AS cell,
        |   unnest(string_split(d.text, ' ')) AS token
        | FROM av JOIN documents d ON av.vec_id = d.doc_id),
        |dt AS (SELECT cell, token FROM dt0 WHERE len(token) > 0),
        |tf AS (SELECT cell, token, count(*) AS tf FROM dt GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
        |ngr AS (SELECT count(DISTINCT cell) AS ng FROM tf),
        |sc2 AS (SELECT tf.cell, tf.token, tf.tf, dfc.dfc,
        |   tf.tf * (ngr.ng - dfc.dfc + 1) AS score
        | FROM tf JOIN dfc USING (token) CROSS JOIN ngr),
        |rk AS (SELECT cell, token, tf, dfc, score, row_number() OVER (
        |   PARTITION BY cell ORDER BY score DESC,
        |     CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) ASC) AS rank
        | FROM sc2)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(rank AS BIGINT) AS rank,
        |  token, CAST(tf AS BIGINT) AS tf, CAST(dfc AS BIGINT) AS group_df,
        |  CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 3""".stripMargin)(qClusterCard),
  )
}

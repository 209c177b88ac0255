package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Dedup, Similarity}
import Tables.{cpuTable, table}
import Models.{AnnBits, AnnHamming, LshMaxBucket, registeredCentroids}
import OSql.Sql_q156
import Query.{Heavy, Light}

/** Evaluation and experiment statistics: ANN recall, LSH evaluation, AUC
  * and calibration, A/B tests, encodings and the composed eval card. */
object EvalQueries {

  /** q137: recall@10 of the registered sign-LSH default ([[AnnBits]]
    * bits, Hamming ≤ [[AnnHamming]] probing) against exact brute force,
    * per query — the ANN evaluation harness
    * ([[graft.ops.Similarity.annRecall]]) under q26/q27's conventions. */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    graft.ops.Similarity.annRecall(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 25), "vec_id", "embedding",
      k = 10, signBits = AnnBits, probeHamming = AnnHamming)
  }

  /** q142: MinHash-LSH banding quality report — precision/recall of the
    * q24 candidate build against the exact q23 Jaccard truth, in basis
    * points ([[graft.ops.Dedup.minhashEval]]); the text-side twin of
    * q137's ANN recall. */
  private def qLshEval(s: SparkSession, dir: String): DataFrame =
    // shared narrow scan (r21): the eval tokenizes the corpus twice —
    // the MinHash signature pass and the exact-Jaccard shingle pass —
    // and each consumed its own parquet scan + scatter exchange; one
    // cached (doc_id, text) projection feeds both
    Dedup.minhashEval(
      CacheScope.session.cache(
        cpuTable(s, dir, "documents").select(col("doc_id"), col("text"))),
      "doc_id", col("text"),
      n = 3, k = 8, rowsPerBand = 4, maxBucket = LshMaxBucket,
      threshold = 0.5, maxDf = 100)

  /** q145: per-language ROC AUC of document length against the
    * embedding-label class, by the exact Mann–Whitney midrank statistic
    * ([[graft.ops.Stats.groupAuc]]) — integer end to end. */
  private def qScoreAuc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.groupAuc(
      table(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .join(table(s, dir, "embeddings").select(col("vec_id").as("doc_id"),
          (col("label") < 5).cast("long").as("y")), "doc_id"),
      Seq("lang"), "y", "n_chars")

  /** q146: Welch A/B comparison of order quantity between return flags
    * R and A per line status ([[graft.ops.Stats.abTest]]) — integer
    * moments, one fixed IEEE z² sequence, integer-space significance. */
  private def qAbTest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.abTest(table(s, dir, "lineitem"),
      Seq("l_linestatus"), "l_returnflag", "R", "A", "l_quantity",
      critBp = 19600L)

  /** q147: leakage-safe out-of-fold target-encoding table
    * ([[graft.ops.Features.targetEncode]]) — lang × 5 md5-hash folds,
    * exact integer numerators, NULL (not fabricated) for categories
    * with no out-of-fold evidence. */
  private def qTargetEncoding(s: SparkSession, dir: String): DataFrame =
    graft.ops.Features.targetEncode(table(s, dir, "documents"),
      "lang", "n_chars", "doc_id", folds = 5, seed = "te1")

  /** q148: two-proportion conversion A/B test
    * ([[graft.ops.Stats.proportionAb]]) — discount incidence between
    * return flags R and A per line status, decided fully exactly in
    * DECIMAL(38,0) cross-multiplied form. */
  private def qConversionAb(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.proportionAb(
      table(s, dir, "lineitem").select(col("l_linestatus"),
        col("l_returnflag"), (col("l_discount") > 0.05).cast("long").as("conv")),
      Seq("l_linestatus"), "l_returnflag", "R", "A", "conv",
      critBp = 19600L)

  /** q149: the index/model evaluation card — q142's LSH banding
    * precision/recall/candidates, q145's AUC spread, and the fitted
    * IVF's q156-shape recall@5, scalarized into one (metric, value)
    * report: the composed "is the approximate machinery good enough to
    * ship" sheet, each metric riding its oracle-gated pipeline. r17
    * trim (verdict task 6): the 25-query recall + scanned-fraction
    * INSTRUMENT rows (ann_recall/ann_hit/ann_scan/ivf_scan/
    * ivf_recall25) moved to the RecallSweep harness — they re-ran
    * q137's and a second 25-query brute truth inside every card build
    * (the card was the bench's most expensive query at 7.4 s steady),
    * while q137/q142 already gate those shapes as registered queries
    * and RecallSweep measures the recall-vs-scan trade at every knob
    * setting, not one point. */
  private def qEvalCard(s: SparkSession, dir: String): DataFrame = {
    val lsh = qLshEval(s, dir).select(expr(
      "stack(3, 'lsh_precision_bp', precision_bp, 'lsh_recall_bp', recall_bp," +
        " 'lsh_candidates', n_candidates) AS (metric, value)"))
    val auc = qScoreAuc(s, dir)
      .agg(min(col("auc_bp")).as("mn"), max(col("auc_bp")).as("mx"))
      .select(expr("stack(2, 'auc_bp_min', mn, 'auc_bp_max', mx) AS (metric, value)"))
    // the other index family on the card: fitted-IVF recall@5 against
    // exact brute force over q156's 5-query sample (5 × 5 = 25 slots).
    // ONE fit serves every ivf row on the card (q156's plan re-fit
    // here would pay the 2-round model twice per card build).
    // Shared narrow scan (r21, the q118 pattern): the card reads the
    // embedding corpus four times — brute-truth item + query sides, IVF
    // item + query sides — one cached projection collapses them.
    val embAll = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val cents = registeredCentroids(s, dir)
    val ivfTruth = Similarity.bruteForceTopK(embAll, "vec_id", "embedding",
      embAll.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
    val ivf5 = Similarity.ivfTopK(embAll, "vec_id", "embedding",
      embAll.filter(col("vec_id") < 5), "vec_id", "embedding",
      cents, k = 5, nProbe = 2) // q156's exact registered shape
    val ivf = ivfTruth.select(col("qid"), col("id"))
      .join(ivf5.select(col("qid"), col("id")), Seq("qid", "id"))
      .agg(count(lit(1)).as("h"))
      .select(expr(
        "stack(1, 'ivf_recall_bp_mean', (h * 10000) div 25) AS (metric, value)"))
    lsh.unionByName(auc).unionByName(ivf)
      .select(col("metric"), col("value").cast("long").as("value"))
  }

  /** q150: q145's AUC by the histogram form
    * ([[graft.ops.Stats.groupAucHist]] — no per-row rank window; the
    * midranks come from the (group, score) histogram's running counts,
    * the discrete-score shape that survives 100 TB). Same fixture, same
    * oracle body as q145: two plans, one truth. */
  private def qAucHist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.groupAucHist(
      table(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .join(table(s, dir, "embeddings").select(col("vec_id").as("doc_id"),
          (col("label") < 5).cast("long").as("y")), "doc_id"),
      Seq("lang"), "y", "n_chars")

  /** q151: calibration table for q145's score/label pair
    * ([[graft.ops.Stats.calibrationTable]]) — per (lang, score
    * quartile), the exact positive rate: what a score region MEANS,
    * the reliability companion to AUC. */
  private def qCalibration(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.calibrationTable(
      table(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .join(table(s, dir, "embeddings").select(col("vec_id").as("doc_id"),
          (col("label") < 5).cast("long").as("y")), "doc_id"),
      "lang", "y", "n_chars", Seq(0.25, 0.5, 0.75))

  /** q152: count/frequency encoding table for `source`
    * ([[graft.ops.Features.countEncode]]). */
  private def qCountEncoding(s: SparkSession, dir: String): DataFrame =
    graft.ops.Features.countEncode(table(s, dir, "documents"), "source")

  /** Oracle bodies shared with the q149 eval-card composition. */
  private lazy val Sql_q137: String =
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
        |    FROM embeddings WHERE vec_id < 25),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM embeddings e, q),
        |bt AS (SELECT qid, id FROM sc QUALIFY row_number()
        |  OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10),
        |b AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |q0 AS (SELECT vec_id AS qid, embedding AS qv, bkt FROM b WHERE vec_id < 25),
        |qp AS (SELECT qid, qv,
        |  unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM q0),
        |asc0 AS (SELECT qp.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "qp.qv")} AS cos
        | FROM b e JOIN qp ON e.bkt = qp.bkt),
        |ap AS (SELECT qid, id FROM asc0 QUALIFY row_number()
        |  OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10),
        |h AS (SELECT bt.qid, count(*) AS n_hit
        |  FROM bt JOIN ap ON bt.qid = ap.qid AND bt.id = ap.id GROUP BY 1),
        |f AS (SELECT qid, count(*) AS n_found FROM ap GROUP BY 1)
        |SELECT q.qid, CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST((coalesce(h.n_hit, 0) * 10000) // 10 AS BIGINT) AS recall_bp
        |FROM q LEFT JOIN f ON q.qid = f.qid
        |  LEFT JOIN h ON q.qid = h.qid""".stripMargin

  private lazy val Sql_q142: String =
      s"""${OSql.shingleCte},
        |${OSql.sigCte},
        |bands0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig),
        |bands AS (SELECT doc_id, band, bkey FROM bands0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $LshMaxBucket),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
        |  WHERE x.doc_id < y.doc_id),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY h)
        |    AS df FROM h) WHERE df <= 100),
        |tru AS (SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM capped x JOIN capped y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, x.nsh, y.nsh
        |  HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |j AS (SELECT coalesce(c.f, 0) AS c, coalesce(t.f, 0) AS t
        |  FROM (SELECT a, b, 1 AS f FROM cand) c
        |  FULL OUTER JOIN (SELECT a, b, 1 AS f FROM tru) t
        |    ON c.a = t.a AND c.b = t.b)
        |SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_candidates,
        |  CAST(coalesce(sum(t), 0) AS BIGINT) AS n_true,
        |  CAST(coalesce(sum(c * t), 0) AS BIGINT) AS n_hit,
        |  CAST(CASE WHEN sum(c) > 0 THEN (sum(c * t) * 10000) // sum(c)
        |    ELSE -1 END AS BIGINT) AS precision_bp,
        |  CAST(CASE WHEN sum(t) > 0 THEN (sum(c * t) * 10000) // sum(t)
        |    ELSE -1 END AS BIGINT) AS recall_bp
        |FROM j""".stripMargin

  private lazy val Sql_q145: String =
      """WITH j AS (SELECT d.lang, d.n_chars AS s,
        |    CASE WHEN e.label < 5 THEN 1 ELSE 0 END AS y
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |r AS (SELECT lang, y,
        |    2 * rank() OVER (PARTITION BY lang ORDER BY s ASC)
        |      + count(*) OVER (PARTITION BY lang, s) - 1 AS r2 FROM j),
        |a AS (SELECT lang, CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
        |    sum(CASE WHEN y = 1 THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS rsum2
        |  FROM r GROUP BY 1)
        |SELECT lang, n_pos, n_neg,
        |  CAST(rsum2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT) AS u2,
        |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN ((rsum2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 5000)
        |      // (CAST(n_pos AS HUGEINT) * n_neg)
        |    ELSE -1 END AS BIGINT) AS auc_bp
        |FROM a""".stripMargin

  val all: Seq[Query] = Seq(
    // q26's brute top-k and q27's probed-LSH top-k (same cos/tiebreak
    // conventions, 25 queries, k=10), intersected per query.
    Query("q137_ann_recall", Heavy, Sql_q137)(qAnnRecall),
    // q24's candidate build full-outer-joined against q23's exact truth,
    // reduced to one row of counts + basis-point precision/recall.
    Query("q142_lsh_eval", Heavy, Sql_q142)(qLshEval),
    // Mann–Whitney with midranks carried as the integer 2·avgrank =
    // 2·rank + |tie group| − 1; AUC in exact basis points.
    Query("q145_score_auc", Light, Sql_q145)(qScoreAuc),
    // The engine's Welch z² operation sequence, stated identically:
    // integer moments, explicit multiply for the square, round 6,
    // significance on round(z2·10⁶) >= 19600²/100.
    Query("q146_ab_test", Light,
      """WITH f AS (SELECT l_linestatus, l_returnflag AS arm,
        |    CAST(l_quantity AS BIGINT) AS v FROM lineitem
        |  WHERE l_returnflag IN ('R', 'A')),
        |a AS (SELECT l_linestatus,
        |    CAST(sum(CASE WHEN arm = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'R' THEN v ELSE 0 END) AS BIGINT) AS sum_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        |    CAST(sum(CASE WHEN arm = 'R' THEN v * v ELSE 0 END) AS BIGINT) AS q_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN v * v ELSE 0 END) AS BIGINT) AS q_b
        |  FROM f GROUP BY 1
        |  HAVING n_a >= 2 AND n_b >= 2
        |    AND NOT (CAST(q_a AS HUGEINT) * n_a = CAST(sum_a AS HUGEINT) * sum_a
        |         AND CAST(q_b AS HUGEINT) * n_b = CAST(sum_b AS HUGEINT) * sum_b)),
        |z AS (SELECT *, round(
        |    (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    * (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / ((CAST(q_a AS DOUBLE) - CAST(sum_a AS DOUBLE)
        |         * (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
        |        / CAST(n_a - 1 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     + (CAST(q_b AS DOUBLE) - CAST(sum_b AS DOUBLE)
        |         * (CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |        / CAST(n_b - 1 AS DOUBLE) / CAST(n_b AS DOUBLE)), 6) AS z2
        |  FROM a)
        |SELECT l_linestatus, n_a, n_b, sum_a, sum_b, z2,
        |  CAST(CAST(round(z2 * 1000000) AS BIGINT) >= 3841600 AS BIGINT)
        |    AS significant
        |FROM z""".stripMargin)(qAbTest),
    // Same md5 fold hash as q44's split; the complete (lang × fold)
    // grid so categories missing a fold still get their full-mean row.
    Query("q147_target_encoding", Light,
      """WITH f AS (SELECT lang,
        |    CAST(('0x'||substr(md5('te1'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 5 AS fold, n_chars FROM documents),
        |pf AS (SELECT lang, fold, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s FROM f GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(s) AS BIGINT) AS st FROM pf GROUP BY 1),
        |g AS (SELECT t.lang, t.nt, t.st, fo.fold FROM t
        |  CROSS JOIN (SELECT unnest(range(5)) AS fold) fo)
        |SELECT g.lang, CAST(g.fold AS BIGINT) AS fold,
        |  CAST(g.nt - coalesce(pf.n, 0) AS BIGINT) AS n_oof,
        |  CAST(g.st - coalesce(pf.s, 0) AS BIGINT) AS sum_oof,
        |  CASE WHEN g.nt - coalesce(pf.n, 0) > 0
        |    THEN round(CAST(g.st - coalesce(pf.s, 0) AS DOUBLE)
        |      / CAST(g.nt - coalesce(pf.n, 0) AS DOUBLE), 6)
        |    ELSE NULL END AS enc
        |FROM g LEFT JOIN pf ON g.lang = pf.lang AND g.fold = pf.fold""".stripMargin)(qTargetEncoding),
    // The engine's cross-multiplied pooled z² inequality in HUGEINT —
    // int128 covers the same range as the engine's DECIMAL(38,0),
    // including the same L ≥ 10³⁰ magnitude guard (DuckDB ERRORS on
    // int128 overflow, so the guard is what keeps L·10⁸ from being
    // formed exactly when it wouldn't fit).
    Query("q148_conversion_ab", Light,
      """WITH f AS (SELECT l_linestatus, l_returnflag AS arm,
        |    CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS conv
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |a AS (SELECT l_linestatus,
        |    CAST(sum(CASE WHEN arm = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'R' THEN conv ELSE 0 END) AS BIGINT) AS k_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS k_b
        |  FROM f GROUP BY 1 HAVING n_a >= 1 AND n_b >= 1),
        |l AS (SELECT *,
        |    (CAST(k_a AS HUGEINT) * n_b - CAST(k_b AS HUGEINT) * n_a)
        |    * (CAST(k_a AS HUGEINT) * n_b - CAST(k_b AS HUGEINT) * n_a)
        |    * (n_a + n_b) AS lhs
        |  FROM a)
        |SELECT l_linestatus, n_a, k_a, n_b, k_b,
        |  CAST(CASE WHEN k_a + k_b > 0 AND k_a + k_b < n_a + n_b THEN
        |    CASE WHEN lhs >= CAST('1000000000000000000000000000000' AS HUGEINT)
        |      THEN true
        |    ELSE lhs * 100000000
        |      >= CAST(19600 AS HUGEINT) * 19600 * (k_a + k_b)
        |         * (n_a + n_b - k_a - k_b) * n_a * n_b
        |    END
        |  ELSE false END AS BIGINT) AS significant
        |FROM l""".stripMargin)(qConversionAb),
    // The three eval oracles scalarized — each sub-SELECT is the exact
    // body its own green row runs.
    Query("q149_eval_card", Light,
      s"""SELECT 'lsh_precision_bp' AS metric,
        |  precision_bp AS value FROM ($Sql_q142)
        |UNION ALL SELECT 'lsh_recall_bp', recall_bp FROM ($Sql_q142)
        |UNION ALL SELECT 'lsh_candidates', n_candidates FROM ($Sql_q142)
        |UNION ALL SELECT 'auc_bp_min', CAST(min(auc_bp) AS BIGINT)
        |FROM ($Sql_q145)
        |UNION ALL SELECT 'auc_bp_max', CAST(max(auc_bp) AS BIGINT)
        |FROM ($Sql_q145)
        |UNION ALL SELECT 'ivf_recall_bp_mean',
        |  CAST((count(*) * 10000) // 25 AS BIGINT)
        |FROM ($Sql_q156) a JOIN (
        |  WITH vq AS (SELECT vec_id AS qid, embedding AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |  vsc AS (SELECT vq.qid, e.vec_id AS id,
        |    ${OSql.cosSql("e.embedding", "vq.qv")} AS cos
        |   FROM embeddings e, vq)
        |  SELECT qid, id FROM vsc QUALIFY row_number()
        |    OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5) t
        |ON a.qid = t.qid AND a.id = t.id""".stripMargin)(qEvalCard),
    // Identical truth to q145 — the oracle does not care which plan
    // computed the midranks.
    Query("q150_auc_hist", Light, Sql_q145)(qAucHist),
    // q81's quantile_disc buckets over the q145 join, rolled up to the
    // per-(lang, bucket) exact positive rate.
    Query("q151_calibration", Light,
      """WITH j AS (SELECT d.lang, d.n_chars,
        |    CASE WHEN e.label < 5 THEN 1 ELSE 0 END AS y
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |b AS (SELECT lang,
        |  quantile_disc(n_chars, 0.25) AS q1,
        |  quantile_disc(n_chars, 0.5) AS q2,
        |  quantile_disc(n_chars, 0.75) AS q3
        | FROM j GROUP BY 1),
        |r AS (SELECT j.lang, j.n_chars, j.y,
        |  CAST(1 + (CASE WHEN j.n_chars > b.q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN j.n_chars > b.q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN j.n_chars > b.q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |  FROM j JOIN b USING (lang))
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(min(n_chars) AS BIGINT) AS score_lo,
        |  CAST(max(n_chars) AS BIGINT) AS score_hi,
        |  CAST((sum(y) * 10000) // count(*) AS BIGINT) AS pos_rate_bp
        |FROM r GROUP BY 1, 2""".stripMargin)(qCalibration),
    Query("q152_count_encoding", Light,
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT c.source, c.n,
        |  CAST((c.n * 10000) // t.total AS BIGINT) AS freq_bp
        |FROM c, t""".stripMargin)(qCountEncoding),
  )
}

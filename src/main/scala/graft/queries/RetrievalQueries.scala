package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Retrieval, Similarity, TextAnalysis}
import Tables.cpuTable
import Models.LshMaxBucket
import Query.{Heavy, HeavyTruncated}

/** Retrieval: BM25, co-occurrence, hard negatives, phrase search, edit-
  * distance joins, hybrid rank fusion and MMR diversification. */
object RetrievalQueries {

  /** BM25 top-k retrieval ([[graft.ops.Retrieval.bm25TopK]]): the 10
    * best corpus documents per query under rational-IDF BM25 (the log's
    * argument as the term weight — IEEE-exact cross-engine where `ln`
    * is libm-dependent). Queries = the first 6 tokens of docs 0-4, so
    * each query's own document is a natural top hit and the seed-mining
    * use ("find documents like these") is exercised as-is. */
  private def qBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(col("text"), " "), 1, 6), " ").as("qtext"))
    graft.ops.Retrieval.bm25TopK(docs, "doc_id", col("text"),
      queries, "query_id", col("qtext"), k = 10)
  }

  /** Corpus collocations ([[graft.ops.TextAnalysis.cooccurTopK]]): the
    * 20 most frequent within-3-positions token pairs with their
    * rational-PMI association ratio — count-ranked with PMI attached
    * (PMI-first ranking surfaces minCount-boundary hapax pairs, the
    * classic artifact). */
  private def qCooccurTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurTopK(cpuTable(s, dir, "documents"), col("text"),
      window = 3, k = 20, minCount = 5)

  /** Hard-negative mining ([[graft.ops.Similarity.hardNegatives]]):
    * for every embedding, its 3 most-similar DIFFERENT-label vectors
    * via q46's multi-probe machinery — contrastive training pairs. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.hardNegatives(cpuTable(s, dir, "embeddings"),
      "vec_id", "embedding", "label", k = 3, signBits = 8,
      probeHamming = 1, maxBucketOccupancy = LshMaxBucket)

  /** q136: probe-vs-corpus edit-distance lookup over the 40-char title
    * prefix — a 50-doc probe batch fuzzy-matched against the standing
    * corpus ([[graft.ops.StringSim.editDistanceLookup]]: corpus-side
    * gram order, banded-levenshtein verify); the oracle is the
    * probe × corpus product the operator's filter chain avoids. */
  private def qEditJoin(s: SparkSession, dir: String): DataFrame = {
    val titles = cpuTable(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
    graft.ops.StringSim.editDistanceLookup(
      titles.filter(col("doc_id") < 50), "doc_id", "title",
      titles, "doc_id", "title", maxDist = 6, q = 2)
  }

  /** q139: blocked edit-distance self-join — near-identical documents
    * (≤ 6 edits over the FULL text: the in-place-patch duplicates
    * byte-exact dedup misses) WITHIN the same language, with
    * length-interval banding ([[graft.ops.StringSim.editDistanceJoin]]
    * with `blockOn` + `lengthBand`): the band count grows with the
    * corpus's length spread, so within-block candidates stay bounded
    * where any fixed block tuple saturates — the scale-safe shape the
    * r14 30× probe demanded (fixed blocks trended quadratic, exponent
    * 0.65 → 0.82; the banded form is flat — SCALING.md). Results are
    * IDENTICAL to the unbanded form (ed ≤ k ⇒ length gap ≤ k). */
  private def qEditBlocked(s: SparkSession, dir: String): DataFrame =
    graft.ops.StringSim.editDistanceJoin(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text")),
      "doc_id", "text", maxDist = 6, q = 2,
      blockOn = Seq("lang"), lengthBand = 6)

  /** q141: exact-phrase retrieval over positional postings
    * ([[graft.ops.Retrieval.phraseSearch]]) — a 2-token and a 3-token
    * phrase, union-labeled; the primitive BM25's bag-of-words misses. */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    Retrieval.phraseSearch(docs, "doc_id", col("text"), Seq("table", "hash"))
      .withColumn("phrase", lit("table hash"))
      .unionByName(
        Retrieval.phraseSearch(docs, "doc_id", col("text"),
            Seq("slow", "hash", "batch"))
          .withColumn("phrase", lit("slow hash batch")))
      .select(col("phrase"), col("doc_id"), col("n_occ"))
  }

  /** q143: cross-language duplication matrix — exact near-dup pairs
    * (q23's build) labeled with both sides' languages: the
    * "which languages leak into which" contamination report. */
  private def qDupLangMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
        n = 3, threshold = 0.5, maxDf = 100)
      .join(docs.select(col("doc_id").as("a"), col("lang").as("__la")), "a")
      .join(docs.select(col("doc_id").as("b"), col("lang").as("__lb")), "b")
      .groupBy(least(col("__la"), col("__lb")).as("lang_a"),
        greatest(col("__la"), col("__lb")).as("lang_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** q158: hybrid lexical ⊕ vector retrieval — the q82 BM25 top-20 and
    * the q26 brute-cosine top-20 (same doc_id ↔ vec_id key space)
    * fused by reciprocal-rank fusion ([[graft.ops.Retrieval.rrfFuse]],
    * c = 60, exact decimal term sum), top-10 per query. The RAG-era
    * curation primitive: rank-based fusion needs no score calibration
    * between the two arms, and each arm stays its own scale path (the
    * corpus-sized work is producing the two top-k lists; the fuse is a
    * bounded-union aggregate). */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val emb = cpuTable(s, dir, "embeddings")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(col("text"), " "), 1, 6), " ").as("qtext"))
    val lex = graft.ops.Retrieval.bm25TopK(docs, "doc_id", col("text"),
        queries, "query_id", col("qtext"), k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val vec = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
      .select(col("qid").as("query_id"), col("id").as("doc_id"), col("rank"))
    graft.ops.Retrieval.rrfFuse(Seq(lex, vec), "query_id", "doc_id",
      "rank", k = 10)
  }

  /** q159: MMR-diversified selection ([[Similarity.mmrSelect]],
    * λ = 0.7, 6 picks from the q26 brute-cosine top-20 shortlist) —
    * diverse exemplar mining over a near-dup-heavy corpus. The oracle
    * unrolls all six greedy steps as CTEs (the q155 discipline), so
    * every argmax — not just the final pick set — is hash-pinned
    * cross-engine.
    *
    * NOT THE DEPLOYMENT PATH (r18 routing mark): this registration is
    * the distributed CONGRUITY TWIN of q167 — it stays registered so
    * the driver gate itself pins the two paths to the same unrolled
    * oracle, but deployments select through q167's
    * [[Similarity.mmrSelectLocal]] (66× faster, exponent 0.37 vs 1.26
    * — the ~3-jobs-per-pick chain measured in ScaleProbe
    * `mmr_deploy`). [[Similarity.mmrSelect]] itself fail-fasts past
    * [[Similarity.MmrDistributedMaxK]] picks. */
  private def qMmrDiversify(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val shortlist = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
    val cand = shortlist.join(
      emb.select(col("vec_id").as("id"), col("embedding")), "id")
    Similarity.mmrSelect(cand, "qid", "id", "cos", "embedding",
      k = 6, lambda = 0.7)
  }

  /** q167: q159's selection through the DEPLOYMENT-scale MMR path
    * ([[Similarity.mmrSelectLocal]] — the per-query greedy loop as one
    * `mapGroups` pass instead of k chained jobs): identical inputs,
    * identical arithmetic, IDENTICAL oracle SQL as q159 — registering
    * both paths against the same unrolled CTEs pins their equivalence
    * in the driver gate itself, not just the unit suite. The local
    * form is why production can pick ~100 from ~1k per query without
    * paying ~3 Spark jobs per pick (ScaleProbe `mmr_deploy` exponent
    * 1.15 distributed vs `mmr_deploy_local` — the candidate set is
    * per-query bounded, the legitimate per-group-imperative case). */
  private def qMmrLocal(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val shortlist = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
    val cand = shortlist.join(
      emb.select(col("vec_id").as("id"), col("embedding")), "id")
    Similarity.mmrSelectLocal(cand, "qid", "id", "cos", "embedding",
      k = 6, lambda = 0.7)
  }

  /** q159's oracle: the q26 brute-cosine shortlist (top `m` per query),
    * pairwise round-6dp cosines, then `k` unrolled greedy MMR steps —
    * sel_i CTEs accumulate picks, each r_i scores the unpicked
    * remainder against max similarity to the picked set. Both weights
    * are interpolated as the JVM-computed doubles in full repr and
    * CAST to DOUBLE (a bare `1.0 - 0.7` would evaluate in DuckDB
    * DECIMAL — exactly 0.3 → double 0.2999999999999999889 — while the
    * engine's lit(1.0) − lit(0.7) folds to IEEE 0.30000000000000004:
    * 1 ulp apart, r16 ADVICE), so both engines provably share the
    * weights. */
  private def mmrSql(k: Int, m: Int, lambda: Double): String = {
    val wRel = s"CAST($lambda AS DOUBLE)"
    val wDiv = s"CAST(${1.0 - lambda} AS DOUBLE)"
    val head =
      s"""cq AS (SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |sc0 AS (SELECT cq.qid, e.vec_id AS id, e.embedding AS v,
        |  ${OSql.cosSql("e.embedding", "cq.qv")} AS rel
        | FROM embeddings e CROSS JOIN cq),
        |cand AS (SELECT qid, id, v, rel FROM sc0
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, id ASC) <= $m),
        |ps AS (SELECT x.qid, x.id AS a, y.id AS b,
        |  ${OSql.cosSql("x.v", "y.v")} AS sim
        | FROM cand x JOIN cand y ON x.qid = y.qid AND x.id <> y.id),
        |s1 AS (SELECT qid, id, rel, mmrd FROM (
        |  SELECT qid, id, rel,
        |    CAST(round($wRel * rel, 9) AS DECIMAL(19,9)) AS mmrd,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY CAST(round($wRel * rel, 9) AS DECIMAL(19,9)) DESC,
        |        id ASC) AS rn
        |  FROM cand) WHERE rn = 1),
        |sel1 AS (SELECT qid, id FROM s1)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""ms$i AS (SELECT ps.qid, ps.a AS id, max(ps.sim) AS ms
        | FROM ps JOIN sel${i - 1} s ON ps.qid = s.qid AND ps.b = s.id
        | GROUP BY 1, 2),
        |r$i AS (SELECT c.qid, c.id, c.rel,
        |   CAST(round($wRel * c.rel, 9) AS DECIMAL(19,9))
        |     - CAST(round($wDiv * m.ms, 9) AS DECIMAL(19,9))
        |     AS mmrd
        | FROM cand c JOIN ms$i m ON c.qid = m.qid AND c.id = m.id
        | WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
        |   WHERE s.qid = c.qid AND s.id = c.id)),
        |s$i AS (SELECT qid, id, rel, mmrd FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY mmrd DESC, id ASC) AS rn
        |  FROM r$i) WHERE rn = 1),
        |sel$i AS (SELECT qid, id FROM sel${i - 1}
        |  UNION ALL SELECT qid, id FROM s$i)""".stripMargin
    }
    val out = (1 to k).map(i =>
      s"SELECT qid, CAST($i AS BIGINT) AS pick, id, rel, " +
        s"CAST(mmrd AS DOUBLE) AS mmr FROM s$i")
      .mkString("\nUNION ALL ")
    s"WITH $head,\n${steps.mkString(",\n")}\n$out"
  }

  val all: Seq[Query] = Seq(
    // Rational-IDF BM25 (the log's argument as the weight — no libm);
    // every constant forced through ::DOUBLE so both engines fold the
    // identical IEEE tree; per-term scores rounded to 6 dp and summed
    // as DECIMAL (exact, order-free); heap tie order = (score desc,
    // doc_id asc).
    Query("q82_bm25_topk", Heavy,
      s"""WITH ${OSql.bm25Ctes}
        |SELECT query_id, doc_id, score, rank FROM (
        | SELECT query_id, doc_id, score, row_number() OVER (
        |   PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        | FROM sc) WHERE rank <= 10""".stripMargin)(qBm25TopK),
    // Position self-join replays the nested-lambda pair scan (x.pos <
    // y.pos <= x.pos + 3, unordered least/greatest at occurrence
    // level); rational PMI = n_ab·N/(n_a·n_b), same ::DOUBLE tree;
    // rank by (n_ab desc, md5-hash60(pair) asc) — the heap's order.
    Query("q84_cooccur_topk", Heavy,
      """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '),
        |    x -> x <> '') AS ws FROM documents),
        |p0 AS (SELECT doc_id, unnest(ws) AS tok,
        |    unnest(generate_series(1, len(ws))) AS pos FROM w),
        |pr AS (SELECT least(x.tok, y.tok) AS tok_a,
        |    greatest(x.tok, y.tok) AS tok_b, count(*) AS n_ab
        |  FROM p0 x JOIN p0 y ON x.doc_id = y.doc_id
        |    AND y.pos > x.pos AND y.pos <= x.pos + 3
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |uni AS (SELECT tok, count(*) AS n FROM p0 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM p0),
        |sc AS (SELECT tok_a, tok_b, n_ab,
        |   round(CAST(n_ab AS DOUBLE) * tot.nn
        |     / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)), 6)
        |     AS pmi_ratio,
        |   CAST(('0x'||substr(md5(tok_a||' '||tok_b),1,15)) AS BIGINT)
        |     AS pid
        | FROM pr CROSS JOIN tot
        |   JOIN uni ua ON pr.tok_a = ua.tok
        |   JOIN uni ub ON pr.tok_b = ub.tok)
        |SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab, pmi_ratio,
        |  rank
        |FROM (SELECT *, row_number() OVER (ORDER BY n_ab DESC, pid ASC)
        |   AS rank FROM sc) WHERE rank <= 20""".stripMargin)(qCooccurTopK),
    // q46's skeleton with the different-label cut inside the candidate
    // join.
    Query("q111_hard_negatives", Heavy,
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0),
        |q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql,
        |   unnest([bkt${(0 until 8).map(i => s", xor(bkt, ${1L << i})").mkString}]) AS bkt
        | FROM b0),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.qid
        |   AND e.label <> q.ql)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 3""".stripMargin)(qHardNegatives),
    // The probe × corpus product q136's filter-and-verify plan avoids:
    // exact levenshtein over the 40-char title prefix, probe doc_id < 50.
    Query("q136_edit_join", Heavy,
      """WITH s AS (SELECT doc_id, substr(text, 1, 40) AS p FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM (SELECT * FROM s WHERE doc_id < 50) a, s b
        |WHERE levenshtein(a.p, b.p) <= 6""".stripMargin)(qEditJoin),
    // The brute within-language form over the FULL text — the length
    // prefilter is implied by ed <= 6 (each edit moves length by at
    // most 1), so adding it cannot change rows, only oracle cost; the
    // engine's length banding prunes to the same contract.
    Query("q139_edit_blocked", Heavy,
      """WITH s AS (SELECT doc_id, lang, text AS p FROM documents)
        |SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM s a JOIN s b
        |  ON a.doc_id < b.doc_id AND a.lang = b.lang
        |  AND abs(len(a.p) - len(b.p)) <= 6
        |WHERE levenshtein(a.p, b.p) <= 6""".stripMargin)(qEditBlocked),
    // Positional phrase matching over the same whitespace tokens, via
    // list comprehension — overlapping occurrences all count.
    Query("q141_phrase_search", Heavy,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |a AS (SELECT 'table hash' AS phrase, doc_id,
        |  CAST(len([i for i in range(1, len(ws))
        |    if ws[i] = 'table' AND ws[i+1] = 'hash']) AS BIGINT) AS n_occ
        | FROM w),
        |b AS (SELECT 'slow hash batch' AS phrase, doc_id,
        |  CAST(len([i for i in range(1, len(ws) - 1)
        |    if ws[i] = 'slow' AND ws[i+1] = 'hash' AND ws[i+2] = 'batch'])
        |   AS BIGINT) AS n_occ
        | FROM w)
        |SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |WHERE n_occ >= 1""".stripMargin)(qPhraseSearch),
    // q23's exact pair build, each side labeled with its language,
    // rolled up to the symmetric (lang, lang) matrix.
    Query("q143_dup_lang_matrix", Heavy,
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh,
        |  CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh)
        |    AS df FROM shh) WHERE df <= 100),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, x.nsh, y.nsh
        |  HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5)
        |SELECT LEAST(da.lang, db.lang) AS lang_a,
        |  GREATEST(da.lang, db.lang) AS lang_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p JOIN documents da ON p.a = da.doc_id
        |  JOIN documents db ON p.b = db.doc_id
        |GROUP BY 1, 2""".stripMargin)(qDupLangMatrix),
    // Hybrid fusion: q82's BM25 chain (top-20) ⊕ q26's brute cosine
    // (top-20), RRF with c=60 — per-term reciprocals rounded to 9 dp
    // and summed as DECIMAL so the fused score is addition-order-free.
    Query("q158_hybrid_rrf", Heavy,
      s"""WITH ${OSql.bm25Ctes},
        |lexr AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM sc) WHERE rank <= 20),
        |cq AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |cs AS (SELECT cq.query_id, e.vec_id AS doc_id,
        |  ${OSql.cosSql("e.embedding", "cq.qv")} AS cos
        | FROM embeddings e CROSS JOIN cq),
        |vecr AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rank
        |  FROM cs) WHERE rank <= 20),
        |u AS (SELECT * FROM lexr UNION ALL SELECT * FROM vecr),
        |f AS (SELECT query_id, doc_id,
        |   CAST(sum(CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(19,9)))
        |     AS DOUBLE) AS rrf,
        |   CAST(count(*) AS BIGINT) AS n_lists,
        |   CAST(min(rank) AS BIGINT) AS best_rank
        | FROM u GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf, n_lists, best_rank, rank FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
        | FROM f) WHERE rank <= 10""".stripMargin)(qHybridRrf),
    // All six MMR greedy steps unrolled (the q155 discipline): each
    // step's max-penalty aggregate and argmax replayed verbatim, the
    // 1−λ weight formed by the same 1.0 − 0.7 IEEE subtraction.
    Query("q159_mmr_diversify", HeavyTruncated, mmrSql(k = 6, m = 20, lambda = 0.7))(qMmrDiversify),
    // q167 = the SAME unrolled MMR oracle: the local (mapGroups) path
    // must land on identical rows as the distributed q159 — driver-gate
    // pinned equivalence, not just a unit test.
    Query("q167_mmr_local", Heavy, mmrSql(k = 6, m = 20, lambda = 0.7))(qMmrLocal),
  )
}

package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}
import Tables.{cpuTable, table}
import Models.{AnnBits, AnnHamming, LshMaxBucket}
import Query.{Heavy, HeavyTruncated, Light}

/** Graph operators over similarity edges: near-duplicate connected
  * components (batch and incremental), label propagation, PageRank,
  * triangles and k-core. */
object GraphQueries {

  /** Near-dup pairs → DEDUP GROUPS ([[Dedup.connectedComponents]]):
    * min-label propagation over the n-gram Jaccard pair list collapses
    * transitive matches (a≈b≈c) into one cluster per component; the
    * converged label is the canonical (minimum) doc id. */
  private def qNearDupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    Dedup.connectedComponents(pairs, docs.select(col("doc_id")), "doc_id")
  }

  /** kNN-graph PageRank ([[graft.ops.Centrality.pageRankInt]]): q46's
    * k=3 neighbor edges, two fixed-point integer rounds — central
    * (often-neighbored) vectors score high; the data-selection signal
    * beyond q47's membership-only clusters. */
  private def qKnnPageRank(s: SparkSession, dir: String): DataFrame = {
    // one cached narrow scan: knnJoin reads its input twice (item side +
    // probe side) and the node list is a third read — without the cache
    // that is three parquet scans + scatter exchanges of the corpus per
    // run (guide §2.4/§6; same shape as q118's shared base)
    val embs = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val edges = graft.ops.Similarity.knnJoin(embs, "vec_id", "embedding",
      k = 3, signBits = AnnBits, probeHamming = AnnHamming,
      maxBucketOccupancy = LshMaxBucket)
      .select(col("qid").as("src"), col("id").as("dst"))
    graft.ops.Centrality.pageRankInt(edges, embs.select(col("vec_id")),
      "vec_id", iters = 2, dampBp = 8500)
  }

  /** kNN label propagation ([[graft.ops.Similarity.labelPropagate]]):
    * labels masked off two-thirds of the embedding corpus (vec_id % 3
    * ≠ 0), each masked vector takes the majority label of its 5
    * nearest labeled neighbors via q46's multi-probe LSH machinery. */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.labelPropagate(
      cpuTable(s, dir, "embeddings").withColumn("lbl",
        when(col("vec_id") % 3 === 0, col("label"))),
      "vec_id", "embedding", "lbl", k = 5, signBits = 8,
      probeHamming = 1, maxBucketOccupancy = LshMaxBucket)
      .select(col("vec_id"), col("lbl").as("label"), col("votes"))

  /** Per-node triangle counts over the q113 kNN graph
    * ([[graft.ops.Centrality.triangleCounts]]): degree-oriented wedge
    * join — local clustering density as a redundancy/bridge signal on
    * the same edge list PageRank scores. */
  private def qKnnTriangles(s: SparkSession, dir: String): DataFrame = {
    // shared narrow scan, as in q113: three reads of the corpus (knnJoin
    // item + probe sides, node list) collapse onto one cached projection
    val embs = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val edges = Similarity.knnJoin(embs, "vec_id", "embedding",
      k = 3, signBits = AnnBits, probeHamming = AnnHamming,
      maxBucketOccupancy = LshMaxBucket)
      .select(col("qid").as("src"), col("id").as("dst"))
    graft.ops.Centrality.triangleCounts(edges,
      embs.select(col("vec_id")), "vec_id")
  }

  /** q140: k-core of the part–supplier bipartite graph (supplier ids
    * offset into their own range) — iterative peeling to fixpoint
    * ([[graft.ops.Centrality.kCore]]); the oracle unrolls the peel as a
    * fixed CTE chain (6 rounds ≥ the observed fixpoint at both SFs, and
    * extra rounds are idempotent). */
  private def qKCore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Centrality.kCore(
      table(s, dir, "lineitem").select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst")),
      "node_id", k = 30)

  /** q154: duplicate-cluster size histogram — q47's connected
    * components rolled up to (cluster size → number of clusters, docs
    * held): the "how duplicated is this corpus" report that sizes the
    * dedup win before anyone runs it. */
  private def qDupHistogram(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val cc = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
        n = 3, threshold = 0.5, maxDf = 100),
      docs.select(col("doc_id")), "doc_id")
    cc.groupBy(col("cluster")).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("__sz")).as("n_docs"))
  }

  /** q157: INCREMENTAL near-dup clustering — the corpus arrives as a
    * standing 3/4 (clustered once) plus a new quarter; the batch's
    * pairs fold into the standing labels through
    * [[graft.ops.Dedup.connectedComponentsIncremental]] (iterative work
    * on the touched-label graph only, pairs-sized). The oracle is q47's
    * FULL-recompute SQL over the whole corpus — two plans, one truth:
    * the incremental merge must be bit-identical to re-clustering
    * everything. */
  private def qCcIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = graft.ops.CacheScope.session.cache(
      Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
        n = 3, threshold = 0.5, maxDf = 100))
    val isNew = (c: Column) => c % 4 === 0
    val oldPairs = pairs.filter(!isNew(col("a")) && !isNew(col("b")))
    val batchPairs = pairs.filter(isNew(col("a")) || isNew(col("b")))
    val oldLabels = Dedup.connectedComponents(oldPairs,
      docs.filter(!isNew(col("doc_id"))).select(col("doc_id")), "doc_id")
    Dedup.connectedComponentsIncremental(oldLabels, batchPairs,
      docs.filter(isNew(col("doc_id"))).select(col("doc_id")), "doc_id")
  }

  /** q47's recursive-CTE clustering — shared with q154's histogram. */
  private lazy val Sql_q47: String =
      s"""${OSql.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        |reach(id, lab) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY 1""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q47_neardup_clusters", Heavy, Sql_q47)(qNearDupClusters),
    // q46's multi-probe kNN skeleton with the reference restricted to
    // the unmasked third; majority vote with ties to the lowest label.
    Query("q106_label_prop", Heavy,
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |lab AS (SELECT * FROM b0 WHERE vec_id % 3 = 0),
        |q AS (SELECT vec_id AS qid, embedding AS qv, unnest([bkt${(0 until 8).map(i =>
             s", xor(bkt, ${1L << i})").mkString}]) AS bkt
        |  FROM b0 WHERE vec_id % 3 <> 0),
        |nn AS (SELECT q.qid, e.vec_id AS id, e.label,
        |   ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM lab e JOIN q ON e.bkt = q.bkt
        | QUALIFY row_number() OVER (PARTITION BY q.qid
        |   ORDER BY cos DESC, id ASC) <= 5),
        |v AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY 1, 2)
        |SELECT qid AS vec_id, label, CAST(votes AS BIGINT) AS votes FROM (
        | SELECT qid, label, votes, row_number() OVER (PARTITION BY qid
        |   ORDER BY votes DESC, label ASC) AS rn FROM v) WHERE rn = 1""".stripMargin)(qLabelProp),
    // q46's neighbor edges + two synchronous fixed-point rounds; all
    // arithmetic is truncating integer division on non-negative values
    // (DuckDB // == Spark div here), so the rounds agree bit-for-bit.
    Query("q113_knn_pagerank", HeavyTruncated,
      s"""WITH b0 AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0),
        |q AS (SELECT vec_id AS qid, embedding AS qv,
        |  unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM b0),
        |nn AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.qid
        | QUALIFY row_number() OVER (PARTITION BY q.qid
        |   ORDER BY cos DESC, id ASC) <= 3),
        |ed AS (SELECT qid AS src, id AS dst FROM nn),
        |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
        |n0 AS (SELECT vec_id, CAST(1000000000000 AS BIGINT) AS s FROM embeddings),
        |i1 AS (SELECT ed.dst, sum((8500 * (n0.s // deg.deg)) // 10000) AS inn
        |  FROM ed JOIN n0 ON ed.src = n0.vec_id JOIN deg USING (src) GROUP BY 1),
        |n1 AS (SELECT n0.vec_id, CAST(150000000000 + coalesce(i1.inn, 0) AS BIGINT) AS s
        |  FROM n0 LEFT JOIN i1 ON n0.vec_id = i1.dst),
        |i2 AS (SELECT ed.dst, sum((8500 * (n1.s // deg.deg)) // 10000) AS inn
        |  FROM ed JOIN n1 ON ed.src = n1.vec_id JOIN deg USING (src) GROUP BY 1),
        |n2 AS (SELECT n1.vec_id, CAST(150000000000 + coalesce(i2.inn, 0) AS BIGINT) AS s
        |  FROM n1 LEFT JOIN i2 ON n1.vec_id = i2.dst)
        |SELECT vec_id, s AS score_fp FROM n2""".stripMargin)(qKnnPageRank),
    // q113's kNN edge CTE, canonicalized undirected, then the textbook
    // a<b<c three-way self-join — the oracle needs no orientation trick
    // (the engine's degree orientation changes the JOIN SHAPE, not the
    // triangle set).
    Query("q133_knn_triangles", Heavy,
      s"""WITH b0 AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0),
        |q AS (SELECT vec_id AS qid, embedding AS qv,
        |  unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM b0),
        |nn AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.qid
        | QUALIFY row_number() OVER (PARTITION BY q.qid
        |   ORDER BY cos DESC, id ASC) <= 3),
        |u AS (SELECT DISTINCT LEAST(qid, id) AS a, GREATEST(qid, id) AS b
        | FROM nn),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM u e1 JOIN u e2 ON e2.a = e1.b
        |   JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
        |c AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM (
        |   SELECT unnest([x, y, z]) AS v FROM t) GROUP BY 1)
        |SELECT emb.vec_id, coalesce(c.n, 0) AS n_triangles
        |FROM embeddings emb LEFT JOIN c ON emb.vec_id = c.v""".stripMargin)(qKnnTriangles),
    // The engine's peel, unrolled: 6 rounds of "drop degree<30 nodes,
    // keep edges between survivors" over the symmetric part–supplier
    // adjacency — past the fixpoint, rounds are idempotent.
    Query("q140_kcore", Light, {
      val rounds = (1 to 6).map(i =>
        s"""k$i AS (SELECT v FROM (
           |   SELECT v, count(*) AS d FROM c${i - 1} GROUP BY 1) WHERE d >= 30),
           |c$i AS (SELECT c.v, c.w FROM c${i - 1} c
           |  JOIN k$i x ON c.v = x.v JOIN k$i y ON c.w = y.v)""".stripMargin)
        .mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey + 10000000 AS s
        |  FROM lineitem),
        |c0 AS (SELECT p AS v, s AS w FROM e UNION ALL SELECT s, p FROM e),
        |$rounds
        |SELECT v AS node_id, CAST(count(*) AS BIGINT) AS core_deg
        |FROM c6 GROUP BY 1""".stripMargin
    })(qKCore),
    // q47's truth rolled up twice: per-cluster sizes, then the
    // size histogram.
    Query("q154_dup_histogram", Heavy,
      s"""SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM (SELECT CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM ($Sql_q47) GROUP BY cluster)
        |GROUP BY 1""".stripMargin)(qDupHistogram),
    // The FULL recompute over the whole corpus — the incremental merge
    // must reproduce it exactly (q47's clustering body verbatim).
    Query("q157_cc_incremental", HeavyTruncated, Sql_q47)(qCcIncremental),
  )
}

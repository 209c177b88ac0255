package graft
package queries

import graft.ops.{Dedup, TextAnalysis}
import Models.{LshMaxBucket, SemProbes, TargetCellOcc}

/** Oracle SQL fragments shared across query families: the shingle,
  * minhash and simhash CTEs, the unrolled k-means fit and the fitted-IVF
  * skeleton — built from the same constants as the Scala operators so
  * they cannot drift. A leaf: no value here reads the registry or a
  * family object, so any family may use it while it initialises. */
object OSql {
  val P = Dedup.MinHashP
  /** The q30 langid decision as one SQL CASE over `text` — marker
    * occurrence sums per language, argmax with the positive-score
    * guard, 'und' fallback (mirrors [[TextAnalysis.langId]]). */
  val langCase: String = {
    def occ(m: String) = {
      val esc = m.replace("'", "''")
      s"(length(' '||text||' ') - length(replace(' '||text||' ', '$esc', ''))) // ${m.length}"
    }
    val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
      l -> ms.map(occ).mkString("(", " + ", ")")
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores.map { case (l, sc) =>
      s"WHEN $sc > 0 AND $sc = $best THEN '$l'"
    }.mkString("\n ")
    s"CASE\n $cases\n ELSE 'und' END"
  }
  val shingleCte =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |s0 AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(generate_series(1, len(ws)-2), i -> array_to_string(ws[i:i+2], ' '))) ELSE [] END AS shs FROM w),
      |sh AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS sh FROM s0)""".stripMargin
  def perm(i: Int) = s"min(((h%$P)*${2 * i + 1} + ${12289L * (i + 1)}) % $P) AS s$i"
  val sigCte =
    s"""h AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS h FROM sh),
       |sig AS (SELECT doc_id, ${(0 until 8).map(perm).mkString(", ")} FROM h GROUP BY doc_id)""".stripMargin
  def bkey(lo: Int) = (lo until lo + 4).map(i => s"s$i::VARCHAR").mkString("||','||")
  val simSums = (0 until 32).map(j =>
    s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")
  val simBits = (0 until 32).map(j =>
    s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
  /** The reference-side multi-probe registration cells of q66/q78
    * (assumes a CTE `b0` carrying embeddings + their own-cell `bkt`):
    * the vec_id % 4 == 0 index rows, each under its own cell PLUS
    * the xor-flips of its `probes − 1` smallest-|component| dims
    * among the first 8 — [[graft.ops.Similarity.probeCells]]' exact
    * order (abs asc, dim asc). Emits CTEs `rb`/`rx`/`rall`. */
  def refProbeCte(probes: Int): String =
    s"""rb AS (SELECT vec_id, label, embedding, bkt FROM b0 WHERE vec_id % 4 = 0),
      |rx AS (SELECT vec_id, label, embedding,
      |    xor(bkt, CAST(power(2, i) AS BIGINT)) AS bkt
      |  FROM (SELECT rb.*, t.i, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY abs(embedding[t.i + 1]) ASC, t.i ASC) AS rnk
      |    FROM rb, range(0, 8) t(i)) WHERE rnk <= ${probes - 1}),
      |rall AS (SELECT * FROM rb UNION ALL SELECT vec_id, label, embedding, bkt FROM rx),""".stripMargin
  /** q64's semantic-dedup CTE chain through `p` (scored members +
    * best-probed-representative cosines) and `cap` (capped-cell
    * passthrough) — shared by q64 and the q118 composition. Reps
    * register under their `SemProbes` probe cells (flips of the
    * smallest-|embedding component| dims among the first 8 — the
    * probeCells order, as in q66's refProbeCte); each member keeps
    * its one own-cell key and is judged against the best probed rep
    * (max cosine, ties to the lowest rep id). */
  def semDedupCtes: String =
    s"""qz AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS s
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |qv AS (SELECT vec_id, embedding,
      |    CASE WHEN s = 0 THEN list_transform(embedding,
      |           x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
      |    END AS q
      |  FROM qz),
      |b0 AS (SELECT vec_id, q, ${(0 until 8).map(i =>
           s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(q, x -> x * x)), (a, x) -> a + x) AS nsq
      |  FROM qv),
      |cnt AS (SELECT bkt, count(*) AS n FROM b0 GROUP BY bkt),
      |m AS (SELECT b0.* FROM b0 JOIN cnt USING (bkt) WHERE n <= $LshMaxBucket),
      |cap AS (SELECT b0.* FROM b0 JOIN cnt USING (bkt) WHERE n > $LshMaxBucket),
      |e0 AS (SELECT vec_id, bkt, q,
      |    unnest(generate_series(0, len(q) - 1)) AS pos FROM m),
      |e AS (SELECT vec_id, bkt, pos, q[pos + 1] AS qd FROM e0),
      |c AS (SELECT bkt, pos, sum(qd) AS cd FROM e GROUP BY bkt, pos),
      |d AS (SELECT e.vec_id, sum(e.qd * c.cd) AS dot
      |  FROM e JOIN c USING (bkt, pos) GROUP BY e.vec_id),
      |sc AS (SELECT m.vec_id, m.bkt, m.q, m.nsq,
      |    CASE WHEN m.nsq = 0 THEN -1e18 ELSE dot / sqrt(m.nsq) END AS score
      |  FROM m JOIN d USING (vec_id)),
      |k AS (SELECT bkt, vec_id AS kid, q AS kq, nsq AS knsq FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY bkt
      |    ORDER BY score DESC, vec_id ASC) = 1),
      |ke AS (SELECT k.*, e.embedding FROM k JOIN qv e ON k.kid = e.vec_id),
      |kx AS (SELECT kid, kq, knsq, xor(bkt, CAST(power(2, i) AS BIGINT)) AS bkt
      |  FROM (SELECT ke.*, t.i, row_number() OVER (PARTITION BY kid
      |      ORDER BY abs(embedding[t.i + 1]) ASC, t.i ASC) AS rnk
      |    FROM ke, range(0, 8) t(i)) WHERE rnk <= $SemProbes - 1),
      |kall AS (SELECT bkt, kid, kq, knsq FROM k
      |  UNION ALL SELECT bkt, kid, kq, knsq FROM kx),
      |pc AS (SELECT sc.vec_id, sc.bkt, sc.nsq, kall.kid,
      |    CASE WHEN sc.nsq = 0 OR kall.knsq = 0 THEN 0.0
      |         ELSE round(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(list_zip(sc.q, kall.kq), x -> x[1] * x[2])),
      |             (a, x) -> a + x)
      |           / (sqrt(sc.nsq) * sqrt(kall.knsq)), 6)
      |    END AS cr
      |  FROM sc JOIN kall USING (bkt)),
      |pb AS (SELECT * FROM pc QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cr DESC, kid ASC) = 1),
      |rk AS (SELECT DISTINCT vec_id FROM pc
      |  WHERE cr >= 0.35 AND kid < vec_id),
      |p AS (SELECT pb.vec_id, pb.bkt, (pb.vec_id = k.kid) AS is_rep, pb.nsq,
      |    pb.cr AS cos_rep,
      |    (pb.vec_id IN (SELECT vec_id FROM rk)) AS killed
      |  FROM pb JOIN k USING (bkt))
      |""".stripMargin.trim

  /** The sign-bucket key over the first `bits` dims — [[graft.ops
    * .Similarity.signBucket]]'s exact DuckDB form. */
  def bktSql(bits: Int): String = (0 until bits).map(i =>
    s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
    .mkString(" + ")

  /** The query-side multi-probe cell list (all cells within Hamming
    * `h` of an existing `bkt` column) as a DuckDB list literal —
    * [[graft.ops.Similarity.hammingProbes]]' exact set. */
  def probeSql(bits: Int, h: Int): String = {
    val h1 = (0 until bits).map(i => s", xor(bkt, ${1L << i})")
    val h2 = for { i <- 0 until bits; j <- (i + 1) until bits }
      yield s", xor(bkt, ${(1L << i) | (1L << j)})"
    "[bkt" + (if (h >= 1) h1.mkString else "") +
      (if (h >= 2) h2.mkString else "") + "]"
  }

  /** The q82 BM25 scoring chain through `sc` (query_id, doc_id,
    * score) — rational IDF × tf saturation, round-6dp decimal term
    * sum, the [[graft.ops.Retrieval.bm25TopK]] arithmetic verbatim.
    * Shared by q82's top-10 and q158's hybrid-fusion lexical arm. */
  val bm25Ctes: String =
    """t0 AS (SELECT doc_id,
      |   unnest(string_split(text, ' ')) AS tok FROM documents),
      |t AS (SELECT doc_id, tok FROM t0 WHERE len(tok) > 0),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |   CAST(sum(dl) AS DOUBLE) AS len FROM dl),
      |q AS (SELECT doc_id AS query_id,
      |   array_to_string((string_split(text, ' '))[1:6], ' ') AS qtext
      | FROM documents WHERE doc_id < 5),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |   (SELECT query_id, unnest(string_split(qtext, ' ')) AS tok
      |    FROM q) WHERE len(tok) > 0),
      |post AS (SELECT doc_id, tok, count(*) AS tf FROM t
      | WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
      |dfq AS (SELECT tok, count(*) AS df FROM post GROUP BY 1),
      |term AS (SELECT qt.query_id, p.doc_id,
      |   CAST(round(
      |     ((st.n - CAST(dfq.df AS DOUBLE) + 0.5::DOUBLE)
      |       / (CAST(dfq.df AS DOUBLE) + 0.5::DOUBLE))
      |     * (CAST(p.tf AS DOUBLE) * (1.2::DOUBLE + 1.0::DOUBLE)
      |        / (CAST(p.tf AS DOUBLE) + 1.2::DOUBLE
      |           * (0.25::DOUBLE + 0.75::DOUBLE
      |              * (CAST(dl.dl AS DOUBLE) * st.n / st.len)))),
      |     6) AS DECIMAL(18,6)) AS ts
      | FROM post p JOIN dl USING (doc_id) CROSS JOIN st
      |   JOIN dfq USING (tok) JOIN qt USING (tok)),
      |sc AS (SELECT query_id, doc_id, CAST(sum(ts) AS DOUBLE) AS score
      | FROM term GROUP BY 1, 2)""".stripMargin

  /** The 6-dp cosine fold, identical to CosineSim's sequential order. */
  def cosSql(a: String, b: String): String =
    s"""round(list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)
       |   / (sqrt(list_reduce(list_prepend(0.0, list_transform($a,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
       |    * sqrt(list_reduce(list_prepend(0.0, list_transform($b,
       |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6)""".stripMargin

  /** [[registeredCells]] in DuckDB — the same `greatest(2,
    * ceil(count/occ))` over non-null embeddings, as a scalar subquery
    * the fit CTEs' seed rule consumes ([[kmeansFitCtes]] `kcSql`). */
  private[queries] val CellsSql: String =
    s"(SELECT greatest(2, CAST(ceil(count(*) / $TargetCellOcc.0) AS BIGINT))" +
      " FROM embeddings WHERE embedding IS NOT NULL)"

  /** [[SampleFitFraction]]'s membership predicate in DuckDB —
    * [[graft.ops.Sampling.hashSample]]("vec_id", 0.5, "ivf") exactly
    * (the cross-engine hash60 identity, seed prepended). */
  private[queries] val SamplePredSql: String =
    "CAST(('0x'||substr(md5('ivf'||CAST(vec_id AS VARCHAR)),1,15)) " +
      "AS BIGINT) % 10000 < 5000"

  /** q155/q156's k-means fit unrolled: CTE chain `c0 → c<iters>`
    * mirroring [[graft.ops.Similarity.kmeansFitInt8]] exactly — per
    * round, assignment by round-6dp cosine against the PREVIOUS round's
    * centroids (ties lowest cid; DuckDB sorts NaN first under DESC,
    * matching NearestCentroid's zero-vector rule), update = the exact
    * int8 component sums CAST to FLOAT (IEEE round-to-nearest on both
    * engines), empty clusters keeping their previous centroid via the
    * LEFT JOIN coalesce. Quantization (kqv) is per-vector and computed
    * once, as in the engine. */
  private[queries] def kmeansFitCtes(iters: Int, kc: Int = 8,
      pred: String = "TRUE", seedLimit: Boolean = false,
      kcSql: String = null, seedPred: String = null): String = {
    // three seed conventions: vec_id < kc (the fixture default — ids
    // are dense so the bound IS the kc lowest) vs ORDER BY vec_id
    // LIMIT kc (the kc lowest rows SATISFYING the seed predicate —
    // required when it is a hash sample, where a fixed id bound would
    // yield a fraction-dependent seed count; q165's convention) vs
    // kcSql (the registered default: the seed COUNT itself is a scalar
    // subquery deriving cells from the corpus count — [[CellsSql]] —
    // so the oracle's geometry grows with the data exactly like the
    // engine's [[registeredCells]]). `seedPred` decouples WHERE the
    // seeds come from (r19: the FULL corpus — pass "TRUE") from WHERE
    // the fit rounds read (`pred` — the hash sample); defaults to
    // `pred`, the pre-r19 coupling.
    val sp = if (seedPred != null) seedPred else pred
    val c0 =
      if (kcSql != null)
        s"""c0 AS (SELECT vec_id AS cid, embedding AS cvec
          |  FROM embeddings WHERE ($sp)
          |  QUALIFY row_number() OVER (ORDER BY vec_id) <= $kcSql),""".stripMargin
      else if (seedLimit)
        s"""c0 AS (SELECT vec_id AS cid, embedding AS cvec
          |  FROM embeddings WHERE ($sp) ORDER BY vec_id LIMIT $kc),""".stripMargin
      else
        s"""c0 AS (SELECT vec_id AS cid, embedding AS cvec
          |  FROM embeddings WHERE vec_id < $kc AND ($sp)),""".stripMargin
    val head = c0 + "\n" +
      s"""kee AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL AND ($pred)),
        |kqz AS (SELECT vec_id, embedding, list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM kee),
        |kqv AS (SELECT vec_id, embedding,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q FROM kqz)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""ka${i}0 AS (SELECT kqv.vec_id, kqv.q, c.cid,
         |  ${OSql.cosSql("kqv.embedding", "c.cvec")} AS cc
         | FROM kqv CROSS JOIN c${i - 1} c),
         |ka$i AS (SELECT vec_id, q, cid FROM ka${i}0
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cc DESC, cid ASC) = 1),
         |ke$i AS (SELECT cid, pos, q[pos + 1] AS qd FROM (
         |   SELECT cid, q, unnest(generate_series(0, len(q) - 1)) AS pos
         |   FROM ka$i)),
         |kcs$i AS (SELECT cid, pos, CAST(sum(qd) AS BIGINT) AS cd
         |  FROM ke$i GROUP BY 1, 2),
         |karr$i AS (SELECT cid, list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
         |  FROM kcs$i GROUP BY 1),
         |c$i AS (SELECT c.cid, coalesce(karr$i.nv, c.cvec) AS cvec
         |  FROM c${i - 1} c LEFT JOIN karr$i USING (cid))""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** q46/q62's fitted-IVF skeleton — since r18 the DERIVED/SAMPLED
    * registered geometry (verdict task 1): [[kmeansFitCtes]](2) with
    * the cell count a corpus-count scalar ([[CellsSql]]) and the fit
    * restricted to the [[SamplePredSql]] hash sample (seeds = the
    * derived-count lowest SAMPLED ids); then FULL-corpus per-vector
    * quantization (fqv — the fit's kqv now covers only the sample),
    * cell assignment (vcell) and the nProbe-deep query probe list
    * (vprobe) against the fitted centroids c2 — same comparator
    * everywhere (round-6 cosine DESC, cid ASC; DuckDB's
    * NaN-first-under-DESC = the engine's zero-vector rule). fqv
    * carries both the float vectors (q46's scoring) and the int8
    * lists (q62's coarse scoring). No occupancy filter: the engine's
    * `maxCellOccupancy` guard FAIL-FASTS on an over-full cell instead
    * of dropping it (r17 — the r16 cap-masking fix), so when the query
    * runs at all, every cell participates; derived cells hold the
    * occupancy near [[TargetCellOcc]], far under [[LshMaxBucket]]. */
  private[queries] def ivfKnnCtes(nProbe: Int): String =
    s"""${kmeansFitCtes(2, pred = SamplePredSql, kcSql = CellsSql,
        seedPred = "TRUE")},
      |fqz AS (SELECT vec_id, embedding, list_max(list_transform(embedding,
      |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM embeddings
      |  WHERE embedding IS NOT NULL),
      |fqv AS (SELECT vec_id, embedding,
      |    CASE WHEN s = 0 THEN list_transform(embedding,
      |           x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
      |    END AS q FROM fqz),
      |vass AS (SELECT fqv.vec_id, fqv.embedding, fqv.q, c.cid,
      |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
      | FROM fqv CROSS JOIN c2 c),
      |vcell AS (SELECT vec_id, embedding, q, cid FROM vass
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cc DESC, cid ASC) = 1),
      |vprobe AS (SELECT vec_id AS qid, embedding AS qv, q AS qq, cid
      |  FROM vass
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cc DESC, cid ASC) <= $nProbe)""".stripMargin

  /** q156's oracle body — shared with the q149 eval-card composition. */
  private[queries] lazy val Sql_q156: String =
      s"""WITH ${kmeansFitCtes(2, pred = SamplePredSql, kcSql = CellsSql,
          seedPred = "TRUE")},
        |av0 AS (SELECT e.vec_id, e.embedding, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c2 c
        | WHERE e.embedding IS NOT NULL),
        |av AS (SELECT vec_id, embedding, cid FROM av0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |vq0 AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id < 5),
        |vp0 AS (SELECT vq0.qid, vq0.qv, c.cid,
        |  ${OSql.cosSql("vq0.qv", "c.cvec")} AS cc
        | FROM vq0 CROSS JOIN c2 c),
        |vp AS (SELECT qid, qv, cid FROM vp0
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY cc DESC, cid ASC) <= 2),
        |vsc AS (SELECT vp.qid, av.vec_id AS id,
        |  ${OSql.cosSql("av.embedding", "vp.qv")} AS cos
        | FROM av JOIN vp ON av.cid = vp.cid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM vsc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 5""".stripMargin
}

package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Dedup}
import Tables.{cpuTable, table}
import Models.LshMaxBucket
import Query.{Heavy, Light}

/** Exact and lexical near-duplicate removal: key dedup,
  * shingle/minhash/simhash, normalized-text dedup, incremental and live
  * ingest against a standing index. */
object DedupQueries {

  private val DedupCols = Seq("l_orderkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount")

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(table(s, dir, "lineitem"), DedupCols)

  private val LatestPayload = Seq("l_shipdate", "l_quantity", "l_extendedprice",
    "l_partkey", "l_suppkey")

  private def qDedupLatest(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLatest(table(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), LatestPayload)
      .withColumn("ship_us", unix_micros(col("l_shipdate").cast("timestamp")))
      .drop("l_shipdate")

  private def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(cpuTable(s, dir, "documents"), "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    // one row per doc, consumed by banding + both sides of the est join;
    // session-scoped like every operator cache (freed by clearCache)
    val sigs = CacheScope.session.cache(
      Dedup.minHashSignatures(cpuTable(s, dir, "documents"), "doc_id",
        col("text"), n = 3, k = 8))
    val cands = Dedup.lshCandidates(sigs, "doc_id", k = 8, rowsPerBand = 4,
      maxBucket = LshMaxBucket)
    val sa = sigs.select(col("doc_id").as("a"), col("sig").as("__sa"))
    val sb = sigs.select(col("doc_id").as("b"), col("sig").as("__sb"))
    cands.join(sa, "a").join(sb, "b")
      .withColumn("est",
        (0 until 8).map(i => when(col("__sa").getItem(i) === col("__sb").getItem(i), 1)
          .otherwise(0): Column).reduce(_ + _).cast("double") / 8.0)
      .select("a", "b", "est")
  }

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // one row per doc, read by both banded join sides; session-scoped
    // like every operator cache (freed by clearCache)
    val sigs = CacheScope.session.cache(
      Dedup.simHashSignatures(cpuTable(s, dir, "documents"), "doc_id", col("text")))
    Dedup.simHashPairs(sigs, "doc_id", bits = 32, maxHamming = 3,
      maxBucket = LshMaxBucket)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  private def qDedupNormalized(s: SparkSession, dir: String): DataFrame =
    // full canonical mapping (onlyDups = false): the testdata has no
    // normalized duplicates at small SF, and the mapping is what a
    // pipeline persists and anti-joins against anyway
    Dedup.exactNormalized(cpuTable(s, dir, "documents"), "doc_id", col("text"),
      onlyDups = false)

  private def qDedupDropNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNormalizedDups(cpuTable(s, dir, "documents"), "doc_id", col("text"))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Chunk-level exact dedup ([[Dedup.chunkDedup]]): duplicated
    * PASSAGES removed corpus-wide (first occurrence wins), documents
    * reassembled from their surviving 10-token chunks. */
  private def qChunkDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(cpuTable(s, dir, "documents"), "doc_id", col("text"),
      chunkTokens = 10)

  /** Incremental crawl-vs-corpus MinHash dedup
    * ([[Dedup.minhashMatchedAgainst]] + [[Dedup.dropNearDupsAgainst]]):
    * the standing corpus is the doc_id % 4 == 0 quarter, the incoming
    * batch the rest; incoming docs whose signature agreement with any
    * banded reference candidate reaches 0.5 are dropped. Output = the
    * surviving incoming docs. Same shingle/signature/band/cap constants
    * as q24, so the two share every oracle fragment. */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    // each signature table feeds banding AND the agreement join probe;
    // session-scoped like every operator cache (freed by clearCache)
    val incSigs = CacheScope.session.cache(
      Dedup.minHashSignatures(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", col("text"), n = 3, k = 8))
    val refSigs = CacheScope.session.cache(
      Dedup.minHashSignatures(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", col("text"), n = 3, k = 8))
    val matched = Dedup.minhashMatchedAgainst(incSigs, refSigs, "doc_id",
      k = 8, rowsPerBand = 4, threshold = 0.5, maxBucket = LshMaxBucket)
    Dedup.dropNearDupsAgainst(
      docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", matched)
  }

  /** Keep-best near-dup dedup ([[Dedup.dropNearDupsKeeping]]): q47's
    * clusters, but the survivor is the LONGEST member (ties to lowest
    * id) instead of the min-id canonical — the quality-keeper rule. */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    Dedup.dropNearDupsKeeping(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      "doc_id", pairs, "n_chars")
  }

  /** q63's incremental dedup through the STREAM-SAFE chained-anti-join
    * form ([[Dedup.dropNearDupsAgainstLive]]) on the same data split
    * and constants — registered against its OWN oracle, which differs
    * from q63's in exactly the live contract: the incoming side carries
    * no occupancy cap (a stream has no global bucket counts), only the
    * static reference side does. The live congruity test runs the same
    * plan on a MemoryStream with zero state operators. */
  private def qDedupIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val refSigs = CacheScope.session.cache(
      Dedup.minHashSignatures(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", col("text"), n = 3, k = 8))
    Dedup.dropNearDupsAgainstLive(
      docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text")),
      refSigs, "doc_id", col("text"), n = 3, k = 8, rowsPerBand = 4,
      threshold = 0.5, maxBucket = LshMaxBucket)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** Winnowed-fingerprint overlap pairs
    * ([[graft.ops.Dedup.winnowedOverlapPairs]]): MOSS-style shared-span
    * detection — any common run of k+w−1 = 7 words is guaranteed a
    * shared fingerprint while the index holds only ~2/(w+1) of the
    * grams; pairs sharing ≥ 2 fingerprints, containment-normalized. */
  private def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.winnowedOverlapPairs(cpuTable(s, dir, "documents"),
      "doc_id", col("text"), k = 4, w = 4, minShared = 2, maxDf = 100)

  /** Dedup threshold sweep ([[Dedup.thresholdSweep]]): the q23 n-gram
    * Jaccard pairs at a low 0.1 floor, binned into 20 similarity
    * buckets with the descending cumulative pair count — the
    * calibration curve behind choosing the production 0.5. */
  private def qThresholdSweep(s: SparkSession, dir: String): DataFrame =
    Dedup.thresholdSweep(
      Dedup.ngramJaccardPairs(cpuTable(s, dir, "documents"), "doc_id",
        col("text"), n = 3, threshold = 0.1, maxDf = 100),
      "jaccard", bins = 20)

  /** q138: shingle-containment join — ordered pairs where ≥80% of the
    * contained doc's distinct 3-gram shingles appear in the container
    * ([[graft.ops.StringSim.containmentJoin]]); the subsumption signal
    * Jaccard misses. */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    graft.ops.StringSim.containmentJoin(
      cpuTable(s, dir, "documents"), "doc_id", "text", n = 3, tauBp = 8000)

  /** q63's oracle (capIncoming = true) and q77's live-contract variant
    * (capIncoming = false: the stream side carries no occupancy cap). */
  private val IncrementalDedupSql: String =
    incrementalDedupSqlWith(capIncoming = true)

  private def incrementalDedupSqlWith(capIncoming: Boolean): String = {
    val ibCte =
      if (capIncoming)
        s"""ib AS (SELECT doc_id, band, bkey FROM ib0
           |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $LshMaxBucket),""".stripMargin
      else
        "ib AS (SELECT doc_id, band, bkey FROM ib0),"
    s"""${OSql.shingleCte},
        |${OSql.sigCte},
        |ib0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig WHERE doc_id % 4 <> 0
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig WHERE doc_id % 4 <> 0),
        |$ibCte
        |rb0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig WHERE doc_id % 4 = 0
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig WHERE doc_id % 4 = 0),
        |rb AS (SELECT doc_id, band, bkey FROM rb0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $LshMaxBucket),
        |cand AS (SELECT DISTINCT i.doc_id AS a, r.doc_id AS b
        |  FROM ib i JOIN rb r ON i.band = r.band AND i.bkey = r.bkey),
        |m AS (SELECT DISTINCT cand.a FROM cand
        |  JOIN sig sa ON cand.a = sa.doc_id JOIN sig sb ON cand.b = sb.doc_id
        |  WHERE (${(0 until 8).map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END").mkString(" + ")})::DOUBLE / 8.0 >= 0.5)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id % 4 <> 0 AND d.doc_id NOT IN (SELECT a FROM m)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q21_dedup_exact", Light,
      s"SELECT DISTINCT ${DedupCols.mkString(", ")} FROM lineitem")(qDedupExact),
    Query("q22_dedup_latest", Light,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        | l_partkey, l_suppkey, epoch_us(l_shipdate) AS ship_us
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        | ORDER BY l_shipdate DESC, l_quantity DESC, l_extendedprice DESC,
        |          l_partkey DESC, l_suppkey DESC) = 1""".stripMargin)(qDedupLatest),
    Query("q23_dedup_ngram", Heavy,
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        | round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) AS jaccard
        |FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |GROUP BY 1, 2, x.nsh, y.nsh
        |HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5""".stripMargin)(qDedupNgram),
    Query("q24_dedup_minhash", Heavy,
      s"""${OSql.shingleCte},
        |${OSql.sigCte},
        |bands0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig),
        |bands AS (SELECT doc_id, band, bkey FROM bands0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 1000),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
        |  WHERE x.doc_id < y.doc_id)
        |SELECT cand.a, cand.b,
        | (${(0 until 8).map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END").mkString(" + ")})::DOUBLE / 8.0 AS est
        |FROM cand JOIN sig sa ON cand.a = sa.doc_id JOIN sig sb ON cand.b = sb.doc_id""".stripMargin)(qDedupMinhash),
    Query("q25_dedup_simhash", Heavy,
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |h AS (SELECT doc_id, CAST(('0x'||substr(md5(w),1,8)) AS BIGINT) AS h FROM t),
        |s AS (SELECT doc_id, ${OSql.simSums} FROM h GROUP BY doc_id),
        |sig AS (SELECT doc_id, ${OSql.simBits} AS simhash FROM s),
        |bands0 AS (
        | SELECT doc_id, 0 AS band, simhash >> 16 AS bkey, simhash FROM sig
        | UNION ALL SELECT doc_id, 1, simhash & 65535, simhash FROM sig),
        |bands AS (SELECT * FROM bands0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 1000),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |   bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
        | WHERE x.doc_id < y.doc_id)
        |SELECT a, b, hamming FROM cand WHERE hamming <= 3""".stripMargin)(qDedupSimhash),
    Query("q38_dedup_normalized", Heavy,
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')),
        |       ' +', ' ', 'g')) AS norm
        | FROM documents)
        |SELECT md5(norm) AS norm_key,
        | min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM n GROUP BY 1""".stripMargin)(qDedupNormalized),
    Query("q39_dedup_drop_normalized", Heavy,
      """WITH n AS (SELECT doc_id, lang, n_chars,
        |  trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')),
        |       ' +', ' ', 'g')) AS norm
        | FROM documents)
        |SELECT doc_id, lang, n_chars FROM (
        | SELECT doc_id, lang, n_chars, md5(norm) AS nh FROM n)
        |QUALIFY row_number() OVER (PARTITION BY nh ORDER BY doc_id) = 1""".stripMargin)(qDedupDropNormalized),
    // q56: DuckDB 1-based inclusive list slices clamp like Spark's
    // slice; the packed keeper key doc_id*2^20+pos replays
    // Dedup.chunkDedup exactly; string_agg(ORDER BY pos) = the sorted
    // reassembly.
    Query("q56_chunk_dedup", Heavy,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(ws[(i*10+1):((i+1)*10)], ' ') AS chunk
        |  FROM w, unnest(generate_series(0,
        |    CAST(ceil(len(ws) / 10.0) AS BIGINT) - 1)) AS t(i)),
        |k AS (SELECT md5(chunk) AS kk, min(doc_id * 1048576 + pos) AS dp
        |      FROM ch GROUP BY 1),
        |kept AS (SELECT ch.doc_id, ch.pos, ch.chunk
        |         FROM ch JOIN k ON md5(ch.chunk) = k.kk
        |           AND ch.doc_id * 1048576 + ch.pos = k.dp)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS dedup_text,
        |       count(*) AS n_chunks_kept
        |FROM kept GROUP BY doc_id""".stripMargin)(qChunkDedup),
    // Same shingle/signature/band fragments as q24; the two sides band
    // separately, each QUALIFY-capped on its own bucket occupancy, and
    // candidates join incoming bands to reference bands only.
    Query("q63_dedup_incremental", Heavy, IncrementalDedupSql)(qDedupIncremental),
    // q47's clusters; the survivor is the longest member (ties to
    // lowest id) instead of min(id).
    Query("q70_dedup_keep_best", Heavy,
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
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |cc AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY 1),
        |keep AS (SELECT doc_id FROM (
        |  SELECT c.doc_id, c.cluster, d.n_chars FROM cc c
        |  JOIN documents d USING (doc_id))
        | QUALIFY row_number() OVER (PARTITION BY cluster
        |   ORDER BY n_chars DESC, doc_id ASC) = 1)
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |JOIN keep USING (doc_id)""".stripMargin)(qDedupKeepBest),
    // The stream-safe chained form's own contract: the INCOMING side
    // cannot be occupancy-capped (a stream has no global bucket
    // counts), so its oracle leaves ib uncapped — only the static
    // reference side carries the QUALIFY cap, mirroring
    // dropNearDupsAgainstLive exactly (q78 makes the same asymmetry
    // explicit for the vector twin).
    Query("q77_dedup_ingest", Heavy, incrementalDedupSqlWith(capIncoming = false))(qDedupIngest),
    // Winnowing replay: k-gram hashes positionally (NOT distinct), one
    // whole-list window when grams <= w (the slice clamps), sliding
    // list_min otherwise; fingerprints = the distinct selected values.
    // Same md5 hash60 construction as q23/q67.
    Query("q83_winnow_pairs", Heavy,
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 4),
        |g AS (SELECT doc_id, list_transform(
        |    generate_series(1, len(w) - 3),
        |    i -> CAST(('0x'||substr(md5(array_to_string(w[i:i+3], ' ')),
        |      1, 15)) AS BIGINT)) AS gh
        |  FROM ws),
        |f0 AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(gh) - 3, 1)),
        |    j -> list_min(gh[j:j+3]))) AS fp
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, fp FROM f0),
        |nf AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY doc_id)
        |    AS nfp FROM fp),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY
        |    fp) AS df FROM nf) WHERE df <= 100),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.nfp AS na,
        |   y.nfp AS nb, count(*) AS shared
        | FROM capped x JOIN capped y ON x.fp = y.fp AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT a, b, CAST(shared AS BIGINT) AS shared,
        | round(CAST(shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE), 6)
        |   AS overlap
        |FROM p""".stripMargin)(qWinnowPairs),
    // q23's pair pipeline at a 0.1 floor, 20 similarity bins, and the
    // descending cumulative count (default RANGE frame on both
    // engines); a 1.0 score clamps into the last bin.
    Query("q100_threshold_sweep", Heavy,
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b,
        |  round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) AS jaccard
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.1),
        |h AS (SELECT least(CAST(floor(jaccard * 20) AS BIGINT), 19) AS bin,
        |   CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1)
        |SELECT bin, round(CAST(bin AS DOUBLE) / 20.0, 6) AS bin_lo, n_pairs,
        | CAST(sum(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT) AS n_pairs_ge
        |FROM h""".stripMargin)(qThresholdSweep),
    // Exact containment over the same md5-60-bit 3-shingle hashes the
    // engine shuffles: the unrestricted hash-table self-join q138's
    // signature plan avoids.
    Query("q138_containment", Heavy,
      s"""${OSql.shingleCte},
        |t AS (SELECT doc_id, nsh,
        |    CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS tok FROM sh),
        |sz AS (SELECT DISTINCT doc_id, CAST(nsh AS BIGINT) AS n FROM t),
        |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.inter, sz.n AS size_a,
        |  CAST((i.inter * 10000) // sz.n AS BIGINT) AS cont_bp
        |FROM i JOIN sz ON i.id_a = sz.doc_id
        |WHERE i.inter * 10000 >= 8000 * sz.n""".stripMargin)(qContainment),
  )
}

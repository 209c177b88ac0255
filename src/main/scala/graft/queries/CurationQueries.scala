package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}
import Tables.{cpuTable, table}
import Query.{Heavy, Light}

/** Training-mixture curation: packing, decontamination, resampling, shard
  * shuffles, budgets and caps, leakage-safe splits, filter funnels and
  * LM-score weighting. */
object CurationQueries {

  /** Sequence packing ([[Packing.packSequences]]): documents concatenated
    * per (language, shard) in doc_id order and cut into 2000-token blocks
    * — each doc labeled with the block its start offset falls in
    * (pretraining concat-and-cut semantics). The shard is a deterministic
    * hash bucket of doc_id ([[Dedup.hash60]], DuckDB-mirrored), so with
    * ~5 languages no single language serializes its whole doc stream
    * through one window task at 100× — parallelism is langs × shards, and
    * a real pipeline sizes the shard count to the cluster. One window sum
    * per (lang, shard) group. */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
      (Dedup.hash60(col("doc_id").cast("string")) % PackShards).as("shard"))
    graft.ops.Packing.packSequences(docs, Seq("lang", "shard"), Seq("doc_id"),
      col("ws_tokens"), budget = 2000)
  }

  /** Shard fan-out for [[qPackSequences]]'s packing window (langs ×
    * shards concurrent window tasks). */
  private val PackShards = 8

  /** Benchmark decontamination ([[Decontam.overlapProfile]]): per-doc
    * trigram overlap of the corpus (doc_id >= 10) against the benchmark
    * set (doc_id < 10) — the eval-leak test every training pipeline runs.
    * Benchmark shingle set broadcasts; the corpus shuffles only into the
    * per-doc count aggregate. */
  private def qDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    graft.ops.Decontam.overlapProfile(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
      "doc_id", col("text"), n = 3)
  }

  /** Temperature resampling ([[Sampling.temperatureResample]]): flatten
    * the skewed language mix (en dominates ~3:1) toward uniform at
    * α = 0.5 — kept counts ∝ n_lang^0.5, smallest language kept whole,
    * membership a pure function of (seed, doc_id). Tiny count agg +
    * broadcast rate join + stateless hash filter. */
  private def qTemperatureResample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureResample(
      table(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id", alpha = 0.5, seed = "t1")

  /** Training-order shuffle ([[Sampling.shuffleShards]]): every doc
    * gets a deterministic (shard, shard_pos) address — curation order
    * broken by an id-hash permutation, reproducible across engines. */
  private def qShuffleShards(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.shuffleShards(
      table(s, dir, "documents").select(col("doc_id")),
      "doc_id", nShards = 8, seed = "sh1")

  /** Token-budget mixture ([[Sampling.mixtureByBudget]]): cap every
    * source's contribution at 800 tokens via the hash-bucket histogram
    * prefix — the absolute-cap half of data mixing next to q55's
    * relative temperature flattening. */
  private def qMixtureBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixtureByBudget(
      table(s, dir, "documents").select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      "source", "doc_id", col("n_tokens"), budget = 800L, nBuckets = 1024,
      seed = "mix1")

  /** Leakage-safe splits ([[Sampling.leakageSafeSplit]]): q44's
    * train/val/test assignment hashed on the NEAR-DUP CLUSTER (q47's
    * connected components over the n-gram Jaccard pairs) instead of the
    * doc id, so no near-duplicate pair ever straddles the train/test
    * fence. */
  private def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    graft.ops.Sampling.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
      pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "ls1")
  }

  /** Quality-filter funnel ([[graft.ops.Curation.filterFunnel]]):
    * four integer-exact rules in pipeline order, each document charged
    * to the FIRST rule it fails (null = kept). Mean-word-length and
    * digit-fraction bounds are cross-multiplied into integer
    * comparisons so no division noise crosses engines. */
  private def qFilterFunnel(s: SparkSession, dir: String): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val uniq = size(array_distinct(split(col("text"), " "))).cast("long")
    // bounds tuned so every rule attributes real drops on the fixture
    // corpus (90/16/15/8 of 500 at sf0.01) — a funnel whose tail rules
    // never fire tests nothing
    graft.ops.Curation.filterFunnel(
      cpuTable(s, dir, "documents"), "doc_id", Seq(
        "min_chars" -> (col("n_chars") >= 150L),
        "min_words" -> (words >= 30L),
        // mean word length <= 5.8: n_chars*5 <= words*29, exact in longs
        "long_words" -> (col("n_chars") * 5L <= words * 29L),
        // distinct-token ratio >= 30%: Gopher-style repetition screen
        "low_diversity" -> (uniq * 10L >= words * 3L)))
      .select(col("doc_id"), col("first_failed"), col("kept"))
  }

  /** Per-source cap ([[graft.ops.Sampling.capPerGroup]]): at most 20
    * docs per source by the salted 52-bit hash rank — the
    * domain-diversity guard, exactly-n and deterministic. */
  private def qCapPerSource(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.capPerGroup(
      table(s, dir, "documents").select(col("doc_id"), col("source")),
      "source", "doc_id", n = 20, seed = "cap1")

  /** End-to-end curation pipeline — five operators COMPOSED into the
    * mix-assembly job a corpus team actually ships, as one lazy plan:
    * integer-exact quality gate → normalized exact dedup
    * ([[graft.ops.Dedup.dropNormalizedDups]]) → transitive near-dup
    * drop (q23's pairs through q47's clusters) → per-source cap
    * ([[graft.ops.Sampling.capPerGroup]]) → hash split, train slice.
    * Each stage is a semi-join or projection over the previous
    * survivors, so Catalyst fuses the chain — no materialization
    * between stages; every stage's parameters mirror its standalone
    * oracle-gated query. */
  private def qCurationE2E(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Sampling}
    val docs = cpuTable(s, dir, "documents")
    val gated = docs.filter(col("n_chars") >= 100L && col("n_chars") <= 5000L)
    val d1 = Dedup.dropNormalizedDups(gated, "doc_id", col("text"))
    val pairs = Dedup.ngramJaccardPairs(d1, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    val d2 = Dedup.dropNearDups(d1, "doc_id", pairs)
    val capped = Sampling.capPerGroup(d2, "source", "doc_id",
      n = 40, seed = "cur1")
    Sampling.hashSplit(capped, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "cur1")
      .filter(col("split") === "train")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Snapshot diff ([[graft.ops.Dedup.snapshotDiff]]): two simulated
    * drops of the documents corpus (old = ids ∌ 7·k, new = ids ∌ 5·k,
    * with every 11th new doc's text perturbed) → delta-sized
    * added/removed/changed report. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    graft.ops.Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", col("text"))
  }

  /** Hashed-gram LM buckets — small enough that the model rides in the
    * task binary as a literal array, large enough that sf-scale gram
    * collisions stay rare. */
  private val LmBuckets = 4096

  /** Hashed n-gram LM quality score ([[TextAnalysis.hashedGramCounts]] +
    * [[TextAnalysis.hashedGramScore]]) — the CCNet/KenLM pipeline stage:
    * train add-one-smoothed gram log-probs on a 10% reference slice
    * (doc_id ≡ 0 mod 10), score the other 90% by mean log-prob per
    * gram. Training is one BUCKETS-sized aggregate; scoring is a pure
    * narrow projection (the term table is a literal), zero shuffle. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val (counts, total) = graft.ops.TextAnalysis.hashedGramCounts(
      docs.filter(col("doc_id") % 10 === 0), col("text"), LmBuckets)
    graft.ops.TextAnalysis.hashedGramScore(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", col("text"),
      graft.ops.TextAnalysis.lmTermMicros(counts, total))
  }

  /** DSIR-style importance weights (Xie et al. 2023's hashed-n-gram
    * form): per-doc weight = mean over grams of
    * (log p_target − log p_background), with target = English docs and
    * background = the rest. The two LMs train as two bucket-sized
    * aggregates; their term-table DIFFERENCE folds in one narrow
    * scoring projection — at 100 TB the selection score is computed in
    * the scan, and sampling by weight composes with q55/q60. */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val ta = graft.ops.TextAnalysis
    val (tc, tt) = ta.hashedGramCounts(
      docs.filter(col("lang") === "en"), col("text"), LmBuckets)
    val (bc, bt) = ta.hashedGramCounts(
      docs.filter(col("lang") =!= "en"), col("text"), LmBuckets)
    val diff = ta.lmTermMicros(tc, tt).lazyZip(ta.lmTermMicros(bc, bt))
      .map(_ - _).toArray
    ta.hashedGramScore(docs, "doc_id", col("text"), diff)
      .select(col("doc_id"), col("n_grams"),
        col("score_micro").as("w_micro"), col("mean_score").as("mean_w"))
  }

  /** Per-source dataset card ([[graft.ops.Stats.groupCard]]): doc
    * count, exact char total, language count, and the Shannon entropy
    * of each source's language mix in exact micro-nats — the corpus
    * report a curation pipeline publishes alongside its output. */
  private def qSourceCard(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.groupCard(cpuTable(s, dir, "documents"),
      "source", "lang", "n_chars")

  /** Token-budget best-first fill ([[graft.ops.Sampling.budgetFill]]):
    * each source's 5k-char budget filled by its longest documents
    * (per-source totals run ~8.5k at sf0.01, so the budget genuinely
    * binds)
    * first (score = cost = n_chars, the simplest quality proxy) —
    * greedy-prefix knapsack, one window pass. */
  private def qBudgetFill(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.budgetFill(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", "n_chars", "n_chars", budget = 5000L)

  /** Messy-ingest quarantine ([[graft.sources.Sources
    * .parseJsonQuarantine]]): documents serialized to JSON payloads
    * with every 13th truncated (malformed), parsed back under the
    * PERMISSIVE + corrupt-column policy, reported per parsed lang
    * (corrupt rows land in the NULL-lang bucket). The payload string
    * is hand-concatenated so both engines corrupt the identical
    * bytes. */
  private def qJsonIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val js = concat(lit("{\"doc_id\":"), col("doc_id"),
      lit(",\"lang\":\""), col("lang"), lit("\",\"n_chars\":"),
      col("n_chars"), lit("}"))
    val withJs = cpuTable(s, dir, "documents")
      .withColumn("__js", js)
      .select(col("doc_id").as("src_id"),
        when(col("doc_id") % 13 === 0,
          expr("substring(__js, 1, length(__js) - 3)"))
          .otherwise(col("__js")).as("payload"))
    graft.sources.Sources.parseJsonQuarantine(withJs, col("payload"),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("is_corrupt"), 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Exact-n global sample ([[graft.ops.Sampling.sampleExactN]]): carve
    * exactly 100 docs corpus-wide by the n smallest salted hashes —
    * the global bounded heap, no sort. */
  private def qExactSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.sampleExactN(
      cpuTable(s, dir, "documents").select(col("doc_id"), col("source")),
      "doc_id", n = 100, seed = "xs1")

  /** Per-source percentile gate ([[graft.ops.Sampling.percentileGate]]):
    * drop each source's bottom quartile by n_chars — the histogram-
    * cumsum percentile_disc cut, corpus never sorted. */
  private def qPercentileGate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.percentileGate(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", bp = 2500)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("__thr").as("thr"))

  val all: Seq[Query] = Seq(
    Query("q50_pack_sequences", Heavy,
      s"""WITH t AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % $PackShards AS shard
        | FROM documents),
        |s AS (SELECT doc_id, lang, ws_tokens, shard,
        |  SUM(ws_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM t)
        |SELECT doc_id, lang, ws_tokens, shard,
        | CAST(floor((cum - ws_tokens) / 2000.0) AS BIGINT) AS seq_id
        |FROM s""".stripMargin)(qPackSequences),
    Query("q51_decontam", Heavy,
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |b AS (SELECT DISTINCT sh FROM shh WHERE doc_id < 10),
        |c AS (SELECT doc_id, nsh, sh FROM shh WHERE doc_id >= 10)
        |SELECT c.doc_id, CAST(c.nsh AS BIGINT) AS n_shingles,
        | count(b.sh) AS n_contam,
        | round(count(b.sh)::DOUBLE / c.nsh, 6) AS contam_frac
        |FROM c LEFT JOIN b ON c.sh = b.sh
        |GROUP BY c.doc_id, c.nsh""".stripMargin)(qDecontam),
    // q55: sqrt (IEEE-correctly-rounded on both engines) keeps the
    // floor'd basis-point threshold bit-identical; the md5 hash is the
    // q44 cross-engine construction.
    Query("q55_temperature_resample", Light,
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS n_min FROM c),
        |r AS (SELECT lang,
        |        floor(10000 * sqrt(n_min / CAST(n AS DOUBLE))) AS bp
        |      FROM c, m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(('0x'||substr(md5('t1'||CAST(doc_id AS VARCHAR)),1,15))
        |        AS BIGINT) % 10000 < bp""".stripMargin)(qTemperatureResample),
    // q57: both hashes are the q44 md5 construction with distinct
    // salts; row_number over (ord hash, doc_id) is a total order, so
    // positions are engine-independent.
    Query("q57_shuffle_shards", Light,
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(('0x'||substr(md5('sh1#s'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 8 AS shard,
        |    CAST(('0x'||substr(md5('sh1#o'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) AS ord
        |  FROM documents)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS shard_pos
        |FROM h""".stripMargin)(qShuffleShards),
    // q60: the bucket hash is the q44 md5 construction; the window
    // cumsum runs over the (source × bucket) histogram only, and
    // bucket-distinctness within a partition makes RANGE == ROWS, so
    // both engines' default frames agree.
    Query("q60_mixture_budget", Light,
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(('0x'||substr(md5('mix1'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 1024 AS b
        |  FROM documents),
        |h AS (SELECT source, b, sum(n_tokens) AS w FROM d GROUP BY 1, 2),
        |c AS (SELECT source, b,
        |        sum(w) OVER (PARTITION BY source ORDER BY b) AS cum
        |      FROM h),
        |cut AS (SELECT source, max(b) AS cutb FROM c WHERE cum <= 800
        |        GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_tokens
        |FROM d JOIN cut ON d.source = cut.source AND d.b <= cut.cutb""".stripMargin)(qMixtureBudget),
    // q47's recursive-CTE clusters feeding q44's basis-point CASE, hash
    // keyed on the cluster (seed 'ls1').
    Query("q68_leakage_split", Heavy,
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
        |cc AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY 1)
        |SELECT doc_id, cluster,
        | CASE WHEN h < 8000 THEN 'train' WHEN h < 9000 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id, cluster,
        |  CAST(('0x'||substr(md5('ls1'||CAST(cluster AS VARCHAR)),1,15)) AS BIGINT)
        |    % 10000 AS h
        | FROM cc)""".stripMargin)(qLeakageSplit),
    // First-failing-rule CASE in pipeline order; integer-exact bounds
    // (cross-multiplied — no division noise crosses engines).
    Query("q69_filter_funnel", Heavy,
      """WITH f AS (SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN NOT (n_chars >= 150) THEN 'min_chars'
        |      WHEN NOT (words >= 30) THEN 'min_words'
        |      WHEN NOT (n_chars * 5 <= words * 29) THEN 'long_words'
        |      WHEN NOT (uniq * 10 >= words * 3) THEN 'low_diversity'
        |      ELSE NULL END AS first_failed,
        | (n_chars >= 150 AND words >= 30 AND n_chars * 5 <= words * 29
        |  AND uniq * 10 >= words * 3) AS kept
        |FROM f""".stripMargin)(qFilterFunnel),
    // Ascending 52-bit salted hash rank within each source, first 20
    // survive — q44's md5 construction reduced mod 2^52 (the operator's
    // double-exact range), ties to lowest id.
    Query("q71_cap_per_source", Light,
      """WITH h AS (SELECT doc_id, source,
        |  CAST(('0x'||substr(md5('cap1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 4503599627370496 AS r
        | FROM documents)
        |SELECT doc_id, source FROM h
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY r ASC, doc_id ASC) <= 20""".stripMargin)(qCapPerSource),
    // The five standalone stage oracles composed over a filtered base:
    // q38/q39's normalization, q23's capped shingle pairs, q47's
    // recursive-CTE clusters, q71's hash-rank cap, q44's basis-point
    // split — each stage's constants identical to its standalone query.
    Query("q91_curation_e2e", Heavy,
      """WITH RECURSIVE base AS (SELECT doc_id, text, lang, source
        |  FROM documents WHERE n_chars >= 100 AND n_chars <= 5000),
        |nk AS (SELECT doc_id, md5(trim(regexp_replace(lower(
        |    regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')),
        |    ' +', ' ', 'g'))) AS k FROM base),
        |d1 AS (SELECT b.* FROM base b JOIN (SELECT min(doc_id) AS doc_id
        |   FROM nk GROUP BY k) keep USING (doc_id)),
        |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM d1),
        |s0 AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(ws)-2),
        |      i -> array_to_string(ws[i:i+2], ' '))) ELSE [] END AS shs
        |  FROM w),
        |sh AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS sh FROM s0),
        |shh AS (SELECT doc_id, nsh,
        |   CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY
        |   sh) AS df FROM shh) WHERE df <= 100),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |edges AS (SELECT a, b FROM pairs
        |  UNION ALL SELECT b AS a, a AS b FROM pairs),
        |reach(id, lab) AS (
        | SELECT doc_id, doc_id FROM d1
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |d2 AS (SELECT d1.* FROM d1 JOIN (SELECT id AS doc_id
        |   FROM (SELECT id, min(lab) AS cluster FROM reach GROUP BY 1)
        |   WHERE cluster = id) k2 USING (doc_id)),
        |cap AS (SELECT doc_id, lang, source FROM (SELECT d2.*,
        |   CAST(('0x'||substr(md5('cur1'||CAST(doc_id AS VARCHAR)),1,15))
        |     AS BIGINT) % 4503599627370496 AS r FROM d2)
        | QUALIFY row_number() OVER (PARTITION BY source
        |   ORDER BY r ASC, doc_id ASC) <= 40)
        |SELECT doc_id, lang, source FROM cap
        |WHERE CAST(('0x'||substr(md5('cur1'||CAST(doc_id AS VARCHAR)),1,15))
        |   AS BIGINT) % 10000 < 8000""".stripMargin)(qCurationE2E),
    // Same simulated drops, full outer on the id, md5 content compare,
    // unchanged dropped (delta-sized output).
    Query("q94_snapshot_diff", Heavy,
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents
        |   WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0
        |     THEN text || ' rev2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.h IS NULL THEN 'added'
        |      WHEN n.h IS NULL THEN 'removed'
        |      WHEN o.h <> n.h THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE CASE WHEN o.h IS NULL THEN 'added'
        |      WHEN n.h IS NULL THEN 'removed'
        |      WHEN o.h <> n.h THEN 'changed' END IS NOT NULL""".stripMargin)(qSnapshotDiff),
    // The hashed LM regenerated from scratch: counts over the same
    // unigram+bigram grams (q65's gram CTE) hashed into LmBuckets,
    // per-gram term = round(ln((c+1)/(T+B))·1e6) as BIGINT micro-nats
    // (order-free integer sum — the engine folds the same terms from a
    // literal array), mean = micro/1e6/n at 6 dp.
    Query("q95_lm_score", Heavy,
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(
        |      generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
        |    ELSE [] END) AS gs FROM w),
        |rg AS (SELECT unnest(gs) AS t FROM g WHERE doc_id % 10 = 0),
        |cb AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM rg GROUP BY 1),
        |tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM cb),
        |sg AS (SELECT doc_id, unnest(gs) AS t FROM g WHERE doc_id % 10 <> 0),
        |sb AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b FROM sg),
        |term AS (SELECT sb.doc_id,
        |   CAST(round(ln(CAST(coalesce(cb.c, 0) + 1 AS DOUBLE)
        |     / CAST(tot.t + $LmBuckets AS DOUBLE)) * 1000000) AS BIGINT) AS tm
        | FROM sb LEFT JOIN cb USING (b) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(tm) AS BIGINT) AS score_micro,
        | round(CAST(sum(tm) AS DOUBLE) / 1000000.0
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_score
        |FROM term GROUP BY doc_id""".stripMargin)(qLmScore),
    // Two LMs (target = English docs, background = the rest), per-gram
    // term = difference of the two micro-nat log-probs — identical to
    // the engine's driver-side term-table subtraction since both
    // engines round each side to BIGINT micros BEFORE subtracting.
    Query("q96_dsir_weights", Heavy,
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, lang, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(
        |      generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
        |    ELSE [] END) AS gs FROM w),
        |tb AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(gs) AS t FROM g WHERE lang = 'en') GROUP BY 1),
        |tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM tb),
        |bb AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(gs) AS t FROM g WHERE lang <> 'en') GROUP BY 1),
        |bt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM bb),
        |sg AS (SELECT doc_id, unnest(gs) AS t FROM g),
        |sb AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b FROM sg),
        |term AS (SELECT sb.doc_id,
        |   CAST(round(ln(CAST(coalesce(tb.c, 0) + 1 AS DOUBLE)
        |     / CAST(tt.t + $LmBuckets AS DOUBLE)) * 1000000) AS BIGINT)
        |   - CAST(round(ln(CAST(coalesce(bb.c, 0) + 1 AS DOUBLE)
        |     / CAST(bt.t + $LmBuckets AS DOUBLE)) * 1000000) AS BIGINT) AS tm
        | FROM sb LEFT JOIN tb USING (b) LEFT JOIN bb USING (b)
        |   CROSS JOIN tt CROSS JOIN bt)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(tm) AS BIGINT) AS w_micro,
        | round(CAST(sum(tm) AS DOUBLE) / 1000000.0
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_w
        |FROM term GROUP BY doc_id""".stripMargin)(qDsirWeights),
    // Two-level aggregate: (source, lang) counts/char sums, per-source
    // totals, then Shannon entropy of the language mix as a sum of
    // per-lang micro-nat terms (each rounded to BIGINT before the sum,
    // so the addition is order-free — the engine's exact trick).
    Query("q97_source_card", Heavy,
      """WITH cl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(n_chars) AS BIGINT) AS s FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(sum(s) AS BIGINT) AS total_size,
        |    CAST(count(*) AS BIGINT) AS n_subgroups FROM cl GROUP BY 1),
        |ent AS (SELECT cl.source, CAST(sum(CAST(round(
        |     (CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |     * ln(CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |     * -1000000.0) AS BIGINT)) AS BIGINT) AS entropy_micro
        |  FROM cl JOIN tot USING (source) GROUP BY 1)
        |SELECT tot.source, n_rows, total_size, n_subgroups, entropy_micro,
        |  round(CAST(entropy_micro AS DOUBLE) / 1000000.0, 6) AS entropy
        |FROM tot JOIN ent USING (source)""".stripMargin)(qSourceCard),
    // percentile_disc via the histogram cumsum (RANGE default frame
    // counts value peers on both engines); all-integer cut decision.
    Query("q107_percentile_gate", Heavy,
      """WITH h AS (SELECT source, n_chars, count(*) AS c FROM documents
        |  WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT source, n_chars,
        |   sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |   sum(c) OVER (PARTITION BY source) AS n FROM h),
        |t AS (SELECT source, min(n_chars) AS thr FROM cm
        |  WHERE cum * 10000 >= n * 2500 GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars, CAST(t.thr AS BIGINT) AS thr
        |FROM documents d JOIN t USING (source) WHERE d.n_chars >= t.thr""".stripMargin)(qPercentileGate),
    // Identical hand-concatenated payloads; DuckDB detects corruption
    // with json_valid (the truncated 13th payloads lose their closing
    // brace), extracts typed fields from the valid ones, and the
    // corrupt rows aggregate under the NULL lang.
    Query("q109_json_ingest", Heavy,
      """WITH j AS (SELECT doc_id AS src_id,
        |  CASE WHEN doc_id % 13 = 0
        |    THEN substr(js, 1, length(js) - 3) ELSE js END AS payload
        | FROM (SELECT doc_id, '{"doc_id":' || doc_id || ',"lang":"' || lang
        |    || '","n_chars":' || n_chars || '}' AS js FROM documents)),
        |p AS (SELECT src_id, NOT json_valid(payload) AS is_corrupt,
        |  CASE WHEN json_valid(payload)
        |    THEN json_extract_string(payload, '$.lang') END AS lang,
        |  CASE WHEN json_valid(payload)
        |    THEN CAST(json_extract(payload, '$.n_chars') AS BIGINT) END AS n_chars
        | FROM j)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN is_corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM p GROUP BY 1""".stripMargin)(qJsonIngest),
    // The n smallest salted 52-bit hashes corpus-wide, ties by id.
    Query("q110_exact_sample", Heavy,
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (ORDER BY
        |   CAST(('0x'||substr(md5('xs1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |     % 4503599627370496 ASC, doc_id ASC) AS rnk
        | FROM documents) WHERE rnk <= 100""".stripMargin)(qExactSample),
    // Greedy prefix: running cost sum in (score desc, id) order, kept
    // while <= budget (monotone with positive costs).
    Query("q120_budget_fill", Heavy,
      """SELECT doc_id, source, n_chars, CAST(spent AS BIGINT) AS spent FROM (
        | SELECT doc_id, source, n_chars,
        |   sum(n_chars) OVER (PARTITION BY source
        |     ORDER BY n_chars DESC, doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spent
        | FROM documents WHERE n_chars > 0)
        |WHERE spent <= 5000""".stripMargin)(qBudgetFill),
  )
}

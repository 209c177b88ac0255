package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, PiiScrub, TextAnalysis}
import Tables.cpuTable
import Query.Heavy

/** Per-document text analysis: quality signals, language id, token
  * statistics, fingerprints, PII scrubbing, repetition and boilerplate,
  * vocabulary and keyword scoring, weighted caps and source overlap. */
object TextQueries {

  private def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val st = TextAnalysis.qualityStats(col("text"))
    cpuTable(s, dir, "documents").select(
      col("doc_id") +: st.map { case (n, c) => c.as(n) }: _*)
  }

  private def qLangId(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents").select(
      col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.regexTokenCount(col("text")).as("re_tokens"))

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents").select(
      col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  private def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.pack(cpuTable(s, dir, "documents"),
      col("doc_id"), encode(col("text"), "UTF-8"), lit("text/plain"), col("source"))
    packed
      .withColumn("__dec", Multimodal.decodeImageStub(col("payload")))
      .withColumn("__rsz", Multimodal.resizeStub(col("__dec"), 256))
      .withColumn("__feat", Multimodal.extractFeaturesStub(col("payload"), 4))
      .select(
        col("id").as("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("__dec.width").as("width"),
        col("__dec.height").as("height"),
        col("__dec.channels").as("channels"),
        col("__rsz.width").as("rw"),
        col("__rsz.height").as("rh"),
        col("__feat").getItem(0).as("f0"),
        col("__feat").getItem(1).as("f1"))
  }

  /** Repetition quality signals ([[Repetition.bigramProfile]]): the
    * Gopher-style duplicate-token fraction and most-frequent-bigram
    * character fraction per document — the filter signals that catch
    * boilerplate/keyword-stuffed documents that length/stopword stats
    * miss. Explode-once + two doc-keyed hash aggregates; the argmax is
    * a packed-string ObjectHashAggregate (no window sort, no
    * SortAggregate fallback), ties to the byte-wise largest bigram
    * (oracle mirrors the packing). */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    graft.ops.Repetition.bigramProfile(
      cpuTable(s, dir, "documents"), "doc_id", "text", "n_chars")

  /** PII scrub ([[PiiScrub.report]]): email/IPv4 redaction counts plus
    * the redacted text's md5/length. The synthetic corpus contains no
    * PII by construction (verified: zero '@' or digit characters), so
    * the registered query grafts a DETERMINISTIC per-row contact tail
    * onto each document — a pure function of doc_id, replayed
    * identically by the oracle — to exercise match/redact/count
    * end-to-end on every row; the operator itself takes any text
    * column. One codegen regexp projection, no shuffle. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@ex"), (col("doc_id") % 10).cast("string"),
      lit(".org or 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"))
    cpuTable(s, dir, "documents").select(
      col("doc_id") +:
        PiiScrub.report(aug).map { case (n, c) => c.as(n) }: _*)
  }

  /** Token rarity ([[TextAnalysis.tokenRarity]]): the corpus as its own
    * language model — per-doc rare-token counts/fraction and mean
    * corpus token frequency, integer-exact instead of libm-dependent
    * log-probs. */
  private def qTokenRarity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenRarity(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), rareBelow = 3)

  /** Boilerplate-span removal ([[Dedup.boilerplateSpans]]): every
    * occurrence of any 3-token span appearing in ≥3 distinct documents
    * is dropped — the C4-style inverse of q56's keep-first chunk dedup
    * (first copies go too; infrequent duplicates stay). ~3% of span
    * occurrences in this corpus cross the bar, so the drop path is
    * exercised on real rows, not vacuously. */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateSpans(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), spanTokens = 3, minDocs = 3)

  /** Hashed linear quality score ([[TextAnalysis.hashedLinearScore]])
    * with the deterministic md5 stand-in model
    * ([[TextAnalysis.md5Weights]], dim 512, salt "w") over uni+bigram
    * features — integer-valued weights, so sums are exact. */
  private def qHashedScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashedLinearScore(cpuTable(s, dir, "documents"),
      "doc_id", col("text"), TextAnalysis.md5Weights(512, "w"))

  /** Per-language vocabulary top-K ([[TextAnalysis.vocabTopK]]): the 10
    * most frequent tokens per language via the bounded-heap grouped
    * top-k (k rows of state per group per task — never a per-group
    * window sort over the corpus), ties by the cross-engine md5 hash of
    * the token. */
  private def qVocabTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(cpuTable(s, dir, "documents"), "lang",
      col("text"), k = 10)

  /** BPE pair statistics ([[TextAnalysis.bpePairCounts]]): top-20
    * adjacent character pairs inside words, weighted by word frequency
    * — the counting pass a tokenizer trainer iterates. */
  private def qBpePairs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairCounts(cpuTable(s, dir, "documents"),
      col("text"), k = 20)

  /** Weighted per-group cap ([[Sampling.capPerGroupWeighted]]): at most
    * 15 docs per source (the fixture carries 25/source at sf0.01, so
    * the cap genuinely binds) by n_chars-weighted deterministic
    * priority sampling — longer docs proportionally likelier to
    * survive, still exactly-n and hash-stable. */
  private def qWeightedCap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.capPerGroupWeighted(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", col("n_chars"), n = 15, seed = "wc1")

  /** Keyword extraction ([[TextAnalysis.keywordsTopK]]): top-3 tokens
    * per document by rational tf-idf (`tf·N/df`), ties by token hash. */
  private def qKeywords(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.keywordsTopK(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), k = 3)

  /** Script mix ([[TextAnalysis.scriptMix]]): per-doc Latin/digit/
    * whitespace/CJK/other code-point fractions — one narrow projection. */
  private def qScriptMix(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptMix(cpuTable(s, dir, "documents"), "doc_id",
      col("text"))

  /** Per-document token entropy ([[TextAnalysis.tokenEntropy]]): the
    * single-pass codegen scan — token count, type count, and unigram
    * Shannon entropy in exact micro-nats; the oracle recomputes it the
    * expensive way (explode + per-(doc, token) aggregate). */
  private def qTokenEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenEntropy(
      cpuTable(s, dir, "documents").filter(col("text").isNotNull),
      "doc_id", col("text"))

  /** Source overlap matrix ([[Dedup.sourceOverlapMatrix]]): pairwise
    * shared-shingle counts and Jaccard between sources over q23's
    * 3-gram hash space — the ingest-worthiness report. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlapMatrix(cpuTable(s, dir, "documents"),
      "source", col("text"), n = 3)

  /** Language confusion matrix — [[TextAnalysis.langId]] predictions
    * against the labeled lang column: per (truth, prediction) cell the
    * count and its exact basis-point share of the truth row — the
    * model-eval report for the heuristic classifier. One codegen scan
    * + a cells-sized aggregate + a langs-sized window. */
  private def qLangConfusion(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents")
      .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_bp",
        expr("(n * 10000) div sum(n) OVER (PARTITION BY lang)"))

  /** q144: canonical text normalization
    * ([[graft.ops.TextAnalysis.normalizeText]] — Cc/Cf strip, codegen
    * NFC, space collapse, trim) fingerprinted per doc; `changed` counts
    * docs the pass rewrote. */
  private def qNormalizeText(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("__n"), col("text"))
      .select(col("doc_id"), md5(col("__n")).as("norm_md5"),
        (col("__n") =!= col("text")).cast("long").as("changed"))

  val all: Seq[Query] = Seq(
    Query("q29_text_quality", Heavy,
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        | round((length(text) - (length(text) - length(replace(text, ' ', ''))))::DOUBLE
        |   / len(string_split(text, ' ')), 6) AS avg_word_len,
        | round((
        |   (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) // 5
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) // 3
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) // 4
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) // 5
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' is ', ''))) // 4
        | )::DOUBLE / len(string_split(text, ' ')), 6) AS stopword_ratio,
        | CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct_cnt
        |FROM documents""".stripMargin)(qTextQuality),
    Query("q30_text_langid", Heavy,
      s"""SELECT doc_id, ${OSql.langCase} AS lang_pred
        |FROM documents""".stripMargin)(qLangId),
    Query("q31_token_count", Heavy,
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin)(qTokenCount),
    Query("q32_fingerprint", Heavy,
      s"""SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(text, ' '),
        |     w -> CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % ${TextAnalysis.FpP})),
        |   (acc, h) -> (acc * 31 + h) % ${TextAnalysis.FpP}) AS fp
        |FROM documents""".stripMargin)(qFingerprint),
    Query("q34_multimodal", Heavy,
      """WITH m AS (SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |  CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) % 1000000007 AS sd
        | FROM documents),
        |d AS (SELECT doc_id, n, sd,
        |  (n * 7919) % 1024 + 1 AS w, (n * 104729) % 1024 + 1 AS h
        | FROM m)
        |SELECT doc_id, n AS n_bytes, w AS width, h AS height, n % 3 + 1 AS channels,
        | CASE WHEN greatest(w, h) <= 256 THEN w ELSE (w * 256) // greatest(w, h) END AS rw,
        | CASE WHEN greatest(w, h) <= 256 THEN h ELSE (h * 256) // greatest(w, h) END AS rh,
        | (sd * 1009 + 0 * 9973) % 1000000 / CAST(1000000 AS DOUBLE) AS f0,
        | (sd * 1009 + 1 * 9973) % 1000000 / CAST(1000000 AS DOUBLE) AS f1
        |FROM d""".stripMargin)(qMultimodal),
    // q53: 1-indexed DuckDB lists; the argmax replays Spark's
    // fixed-width sortable packing (lpad(cnt,10,'0') || bigram — see
    // Repetition.bigramProfile) so the tie-break (largest count, then
    // byte-wise largest bigram) is bit-identical.
    Query("q53_repetition_quality", Heavy,
      """WITH w AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS ws
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, n_chars,
        |    round(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6)
        |      AS dup_token_frac,
        |    ws FROM w),
        |bg AS (
        |  SELECT doc_id, n_chars, dup_token_frac,
        |    ws[i] || ' ' || ws[i + 1] AS bigram
        |  FROM base, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
        |cnt AS (
        |  SELECT doc_id, n_chars, dup_token_frac, bigram, count(*) AS cnt
        |  FROM bg GROUP BY ALL),
        |top AS (
        |  SELECT doc_id, n_chars, dup_token_frac,
        |    max(lpad(CAST(cnt AS VARCHAR), 10, '0') || bigram) AS m
        |  FROM cnt GROUP BY ALL)
        |SELECT doc_id, dup_token_frac,
        |  substr(m, 11) AS top_bigram,
        |  CAST(substr(m, 1, 10) AS BIGINT) AS top_bigram_cnt,
        |  round(CAST(substr(m, 1, 10) AS BIGINT) * length(substr(m, 11))
        |      / CAST(n_chars AS DOUBLE), 6)
        |    AS top_bigram_char_frac
        |FROM top""".stripMargin)(qRepetition),
    // q54: patterns are the common Java-regex/RE2 subset; DuckDB needs
    // the 'g' flag to match Spark's always-global regexp_replace.
    Query("q54_pii_scrub", Heavy,
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@ex' || (doc_id % 10)
        |      || '.org or 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
        |      AS t
        |  FROM documents),
        |es AS (
        |  SELECT doc_id, t,
        |    regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t_email
        |  FROM aug)
        |SELECT doc_id,
        |  len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  md5(regexp_replace(t_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g')) AS scrubbed_md5,
        |  length(regexp_replace(t_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g')) AS scrubbed_len
        |FROM es""".stripMargin)(qPiiScrub),
    // q58: integer sums + exact divisions only (no ln), so the 6-dp
    // rounds agree bit-for-bit.
    Query("q58_token_rarity", Heavy,
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1)
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN tf < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  round(sum(CASE WHEN tf < 3 THEN 1 ELSE 0 END)
        |      / CAST(count(*) AS DOUBLE), 6) AS rare_frac,
        |  round(sum(tf) / CAST(count(*) AS DOUBLE), 6) AS mean_tf
        |FROM toks JOIN vocab USING (tok)
        |GROUP BY doc_id""".stripMargin)(qTokenRarity),
    // q59: q56's span explode, but keyed on count(DISTINCT doc_id) and
    // dropping EVERY hot occurrence; string_agg FILTER + coalesce('')
    // mirrors Spark's null-skipping collect_list over an all-hot doc.
    Query("q59_boilerplate", Heavy,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(ws[(i*3+1):((i+1)*3)], ' ') AS span
        |  FROM w, unnest(generate_series(0,
        |    CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1)) AS t(i)),
        |k AS (SELECT md5(span) AS kk, count(DISTINCT doc_id) AS df
        |      FROM ch GROUP BY 1),
        |f AS (SELECT ch.doc_id, ch.pos, ch.span, k.df >= 3 AS hot
        |      FROM ch JOIN k ON md5(ch.span) = k.kk)
        |SELECT doc_id,
        |  coalesce(string_agg(span, ' ' ORDER BY pos)
        |    FILTER (WHERE NOT hot), '') AS clean_text,
        |  CAST(count(*) FILTER (WHERE NOT hot) AS BIGINT) AS n_spans_kept,
        |  CAST(count(*) FILTER (WHERE hot) AS BIGINT) AS n_spans_dropped
        |FROM f GROUP BY doc_id""".stripMargin)(qBoilerplate),
    // The md5 stand-in model regenerated inline: bucket = hash60(gram)
    // mod 512, weight = (hash60('w'||bucket) mod 2001) - 1000 — exactly
    // TextAnalysis.md5Weights(512, "w"), recomputed per gram.
    Query("q65_hashed_score", Heavy,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(
        |      generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
        |    ELSE [] END) AS gs FROM w),
        |sc AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
        |  list_reduce(list_prepend(0.0, list_transform(gs, t ->
        |    CAST((CAST(('0x' || substr(md5('w' ||
        |      CAST((CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512) AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 2001) - 1000 AS DOUBLE))),
        |    (acc, v) -> acc + v) AS score_sum
        | FROM g)
        |SELECT doc_id, n_grams, score_sum,
        |  round(score_sum / n_grams, 6) AS mean_weight
        |FROM sc""".stripMargin)(qHashedScore),
    // Tie order mirrors the heap's (cnt desc, hash60(token) asc) — the
    // same md5 construction as q44.
    Query("q67_vocab_topk", Heavy,
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, count(*) AS cnt FROM t
        |  WHERE len(token) > 0 GROUP BY 1, 2)
        |SELECT lang, token, cnt, rank FROM (
        | SELECT lang, token, cnt, row_number() OVER (PARTITION BY lang
        |   ORDER BY cnt DESC,
        |     CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) ASC) AS rank
        | FROM c) WHERE rank <= 10""".stripMargin)(qVocabTopK),
    // Vocab-then-pairs (the BPE trainer's counting shape): word counts,
    // adjacent code-point pairs per distinct word, weighted sums, top-20
    // by count with md5-hash ties — substr is code-point-based on both
    // engines.
    Query("q101_bpe_pairs", Heavy,
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM w0
        |  WHERE length(w) >= 2 GROUP BY 1),
        |p0 AS (SELECT unnest(list_transform(
        |    generate_series(1, length(w) - 1),
        |    i -> substr(w, CAST(i AS INT), 2))) AS pair, wc FROM wc),
        |pc AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occ,
        |    CAST(('0x'||substr(md5(pair),1,15)) AS BIGINT) AS pid
        |  FROM p0 GROUP BY 1)
        |SELECT pair, n_occ, rank FROM (
        | SELECT pair, n_occ, row_number() OVER (
        |   ORDER BY n_occ DESC, pid ASC) AS rank FROM pc)
        |WHERE rank <= 20""".stripMargin)(qBpePairs),
    // Priority sampling: u = (hash52 + 1)/2^52 exact, pri = w/u one
    // correctly-rounded division — identical order on both engines;
    // double ties break by doc_id asc (the heap's tie rule).
    Query("q103_weighted_cap", Heavy,
      """WITH p AS (SELECT doc_id, source, n_chars,
        |  CAST(n_chars AS DOUBLE) / (CAST((CAST(('0x'||substr(md5('wc1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 4503599627370496 + 1) AS DOUBLE) / 4503599627370496.0) AS pri
        | FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, source, n_chars FROM (
        | SELECT doc_id, source, n_chars,
        |   row_number() OVER (PARTITION BY source ORDER BY pri DESC, doc_id ASC) AS rnk
        | FROM p) WHERE rnk <= 15""".stripMargin)(qWeightedCap),
    // Rational tf-idf (tf·N/df, no libm): N = tokenized docs, one
    // double division, ties by the md5 token hash ascending.
    Query("q104_keywords_tfidf", Heavy,
      """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT doc_id, token FROM t0 WHERE len(token) > 0),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        |s AS (SELECT tf.doc_id, tf.token,
        |   CAST(tf.tf * nd.n AS DOUBLE) / CAST(dft.df AS DOUBLE) AS pri,
        |   CAST(('0x'||substr(md5(tf.token),1,15)) AS BIGINT) AS tid
        | FROM tf JOIN dft USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, round(pri, 6) AS tfidf, rank FROM (
        | SELECT doc_id, token, pri,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY pri DESC, tid ASC) AS rank
        | FROM s) WHERE rank <= 3""".stripMargin)(qKeywords),
    // Code-point class counts via delete-and-measure; the character
    // classes are dialect-neutral, and both engines' length() counts
    // code points.
    Query("q105_script_mix", Heavy,
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_cp,
        | round(CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS latin_frac,
        | round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS digit_frac,
        | round(CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS DOUBLE) / length(text), 6) AS space_frac,
        | round(CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fa5}]', '', 'g')) AS DOUBLE) / length(text), 6) AS cjk_frac,
        | round(CAST(length(text)
        |   - (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
        |   - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |   - (length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')))
        |   - (length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fa5}]', '', 'g')))
        |   AS DOUBLE) / length(text), 6) AS other_frac
        |FROM documents WHERE text IS NOT NULL AND length(text) >= 1""".stripMargin)(qScriptMix),
    // The explode + per-(doc, token) aggregate the engine's single-pass
    // codegen scan replaces; per-type terms rounded to micro-nat longs
    // BEFORE the sum (order-free — the house entropy trick, q97).
    // string_split(text, ' ') == the expression's split: empty tokens
    // kept, '' is one empty token.
    Query("q125_token_entropy", Heavy,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        | FROM t GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |f AS (SELECT c.doc_id, n.n AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CAST(round(
        |     -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |     * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |     * 1000000.0) AS BIGINT)) AS BIGINT) AS entropy_micro
        | FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY 1, 2)
        |SELECT doc_id, n_tokens, n_types, entropy_micro,
        |  round(CAST(entropy_micro AS DOUBLE) / 1000000.0, 6) AS entropy
        |FROM f""".stripMargin)(qTokenEntropy),
    // q23's shingle-hash space grouped by source instead of doc: the
    // per-doc distinct is subsumed by the per-source DISTINCT, so the
    // CTE skips list_distinct; same md5-60-bit hash as the engine.
    Query("q128_source_overlap", Heavy,
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws
        |  FROM documents),
        |s0 AS (SELECT source, CASE WHEN len(ws) >= 3
        |   THEN list_transform(generate_series(1, len(ws) - 2),
        |     i -> array_to_string(ws[i:i+2], ' '))
        |   ELSE [] END AS shs FROM w),
        |sh AS (SELECT DISTINCT source,
        |   CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
        | FROM (SELECT source, unnest(shs) AS sh FROM s0)),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        | FROM sh GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |   CAST(count(*) AS BIGINT) AS n_common
        | FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT source_a, source_b, na.n AS n_a, nb.n AS n_b, n_common,
        |  round(CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard
        |FROM p
        |JOIN ns na ON source_a = na.source
        |JOIN ns nb ON source_b = nb.source""".stripMargin)(qSourceOverlap),
    // q30's langid CASE, crossed with the labeled lang; share in exact
    // basis points of the truth row.
    Query("q134_lang_confusion", Heavy,
      s"""WITH p AS (SELECT lang, ${OSql.langCase} AS lang_pred
        |  FROM documents),
        |c AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        | FROM p GROUP BY 1, 2)
        |SELECT lang, lang_pred, n,
        |  CAST((n * 10000) // sum(n) OVER (PARTITION BY lang) AS BIGINT)
        |    AS share_bp
        |FROM c""".stripMargin)(qLangConfusion),
    // The engine's normalization chain, mirrored step for step
    // (Cc/Cf strip -> NFC -> space collapse -> trim), fingerprinted.
    Query("q144_normalize_text", Heavy,
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(nfc_normalize(
        |    regexp_replace(text, '[\p{Cc}\p{Cf}]', '', 'g')),
        |    ' +', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT doc_id, md5(nt) AS norm_md5,
        |  CAST(nt <> text AS BIGINT) AS changed
        |FROM n""".stripMargin)(qNormalizeText),
  )
}

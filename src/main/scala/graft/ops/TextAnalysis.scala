package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (whole-stage codegen, no UDFs), with integer-exact
  * or 6-dp-rounded outputs so a DuckDB oracle can reproduce them bit-for-
  * bit. Each is embarrassingly parallel — a map over the corpus with no
  * shuffle — so 100 TB scaling is just partition count. */
object TextAnalysis {

  /** Number of non-overlapping occurrences of literal `w` in `t`
    * (classic length-difference trick; exact integer). */
  def occurrences(t: Column, w: String): Column =
    ((length(t) - length(replace(t, lit(w), lit("")))) / w.length).cast("long")

  /** Language-marker stopwords (n-gram heuristic): padded-text substring
    * counts per language. Order = tie-break precedence. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "es" -> Seq(" el ", " la ", " los ", " es "),
    "de" -> Seq(" der ", " die ", " und ", " ist "),
    "fr" -> Seq(" le ", " les ", " et ", " est "),
    "zh" -> Seq("的", "是", "了"))

  /** Per-language marker score over ' '||text||' ': one codegen counting
    * scan per marker ([[graft.functions.MarkerCountSum]]) instead of a
    * whole-document `replace` copy per marker. Counts are the replace
    * trick's non-overlapping left-to-right semantics — the DuckDB oracle
    * keeps the replace form and matches exactly. */
  def langScore(text: Column, markers: Seq[String]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.MarkerCountSum(
        org.apache.spark.sql.GraftBridge.expression(text), markers))

  /** Heuristic language ID: argmax of marker scores, earlier language wins
    * ties, "und" (undetermined) when all scores are 0. One codegen call
    * per row ([[graft.functions.LangIdExpr]]) — the Column form re-scanned
    * each document 23 times through replace copies. */
  def langId(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.LangIdExpr(
        org.apache.spark.sql.GraftBridge.expression(text), LangMarkers))

  /** Canonical text normalization — the pass run BEFORE any hashing or
    * shingling so byte-level dedup sees one representation per logical
    * text: strip control (Cc) and format (Cf — zero-width chars, BOM,
    * bidi marks) characters, Unicode-NFC compose (the codegen
    * [[graft.functions.NfcNormalize]]), collapse space runs, trim.
    * Pure per-row projection — no shuffle, codegen end to end; the
    * DuckDB twin is `trim(regexp_replace(nfc_normalize(regexp_replace(
    * text, '[\p{Cc}\p{Cf}]', '', 'g')), ' +', ' ', 'g'))`. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      graft.functions.NfcNormalizeFn(
        regexp_replace(text, "[\\p{Cc}\\p{Cf}]", "")),
      " +", " "))

  /** Whitespace token count (single-space tokenization). */
  def wsTokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** BPE-ish token count: alpha runs, digit runs, and single non-space
    * symbols each count as one token. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long")

  /** Quality stats: exact integers + 6-dp ratios.
    * Returns (n_chars, n_words, avg_word_len, stopword_ratio, punct_cnt). */
  def qualityStats(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("long")
    val nWords = wsTokenCount(text)
    val spaceCnt = (length(text) - length(replace(text, lit(" "), lit("")))).cast("long")
    val stopCnt = langScore(text, Seq(" the ", " a ", " of ", " and ", " is "))
    val punctCnt =
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))).cast("long")
    Seq(
      "n_chars" -> nChars,
      "n_words" -> nWords,
      "avg_word_len" -> round((nChars - spaceCnt).cast("double") / nWords.cast("double"), 6),
      "stopword_ratio" -> round(stopCnt.cast("double") / nWords.cast("double"), 6),
      "punct_cnt" -> punctCnt)
  }

  /** Fingerprint modulus (1e9+7): keeps `acc*31 + h` < 2^63 so the fold is
    * exact 64-bit on both engines. */
  val FpP = 1000000007L

  /** Rolling-hash document fingerprint: fold (acc*31 + h60(word) mod p)
    * mod p over words in order. Content-sensitive and order-sensitive —
    * the cheap "same doc modulo nothing" identity for exact dedup at
    * scale. Native codegen fold ([[graft.functions.FoldHash]]) — the
    * `aggregate(transform(split(...)))` HOF form ran its lambdas
    * interpreted, outside whole-stage codegen (the pattern CosineSim
    * replaced for ~20×). DuckDB twin unchanged:
    * list_reduce(list_prepend(0, hashes), ...). */
  def fingerprint(text: Column): Column = graft.functions.FoldHashFn(text)

  /** Per-document token-distribution facts — count, distinct types, and
    * unigram Shannon entropy in exact micro-nats — via the single-pass
    * [[graft.functions.TokenEntropy]] codegen expression: a narrow
    * projection with NO shuffle at all, vs the explode + per-(doc,
    * token) aggregate plan that shuffles the corpus's entire token
    * stream (the SQL oracle's shape, mirrored bit-exactly). Low entropy
    * flags repetitive boilerplate, high `n_types/n_tokens` flags
    * vocabulary spam — the cheap diversity gate of a quality funnel.
    * Output: idCol, n_tokens, n_types, entropy_micro, entropy (6 dp). */
  def tokenEntropy(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val f = graft.functions.TokenEntropyFn(text)
    df.select(col(idCol), f.as("__f"))
      .select(col(idCol), col("__f").getItem(0).as("n_tokens"),
        col("__f").getItem(1).as("n_types"),
        col("__f").getItem(2).as("entropy_micro"))
      .withColumn("entropy",
        round(col("entropy_micro").cast("double") / lit(1000000.0), 6))
  }

  /** Self-supervised token-rarity quality stats — the corpus is its own
    * language model: a document stuffed with tokens the corpus has
    * barely seen is gibberish/OCR noise, one made of ubiquitous tokens
    * is boilerplate. Per document: whitespace token count, count and
    * 6-dp fraction of RARE tokens (corpus frequency < `rareBelow`), and
    * the 6-dp mean corpus frequency of its tokens. Deliberately NOT the
    * classic mean unigram log-prob: `ln` is only faithfully (not
    * correctly) rounded and differs per libm, while these stats are
    * integer sums and exact divisions — bit-identical on any engine.
    *
    * Scale shape: the token explode is persisted once through `scope`
    * (it feeds the vocabulary count and the join probe); the vocabulary
    * aggregate's result is vocab-sized (≪ corpus); the frequency
    * join-back keys on the token, where hot stopword keys skew the
    * shuffle — linear work per partition, AQE skew-split applies, and a
    * 100 TB run can salt via [[graft.ops.Joins.salted]] if one token
    * dominates a partition. One final doc-keyed hash aggregate. */
  def tokenRarity(df: DataFrame, idCol: String, text: Column,
      rareBelow: Long = 3, scope: CacheScope = CacheScope.session): DataFrame = {
    require(rareBelow >= 1, s"rareBelow >= 1, got $rareBelow")
    val toks = scope.cache(
      df.select(col(idCol), explode(split(text, " ")).as("tok")))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    toks.join(vocab, "tok")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tf") < rareBelow, 1L).otherwise(0L)).as("n_rare"),
        sum(col("tf")).as("__tf_sum"))
      .select(col(idCol), col("n_tokens"), col("n_rare"),
        round(col("n_rare").cast("double") / col("n_tokens"), 6).as("rare_frac"),
        round(col("__tf_sum").cast("double") / col("n_tokens"), 6).as("mean_tf"))
  }

  /** fastText-style hashed linear model score — the distributed shape of
    * model-based quality filtering (CCNet/GPT-3/LLaMA pipelines put a
    * linear classifier over hashed uni+bigram features in front of every
    * other filter). Features are word unigrams (+ bigrams when `bigrams`)
    * bucketed by the hashing trick (`hash60 mod weights.length` — the
    * fixed-size model that makes vocabulary growth a non-event), and the
    * document's score is the sum of its features' weights: a trained
    * model rides along as the plain `weights` array, compiled into the
    * scoring expression as an array literal — at 100 TB the model ships
    * once per executor inside the task binary, and scoring is ONE
    * narrow per-row projection with no shuffle, no join, no state.
    *
    * The raw sum (not a sigmoid) is returned: thresholding is monotone
    * in it, and `exp` is only faithfully rounded — per-libm results
    * would break cross-engine reproduction (same reasoning as
    * [[tokenRarity]]'s dropped log-prob). With integer-valued weights
    * (e.g. [[md5Weights]], or a trained model's weights scaled and
    * rounded to integers) every sum is exact in doubles (< 2^53), so
    * oracles match bit-for-bit. Output: `idCol`, n_grams, score_sum,
    * mean_weight (6-dp per-feature mean, length-normalized like
    * fastText's). */
  def hashedLinearScore(df: DataFrame, idCol: String, text: Column,
      weights: Array[Double], bigrams: Boolean = true): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val dim = weights.length
    val w = typedLit(weights)
    df.withColumn("__g", wordGrams(text, bigrams))
      .select(col(idCol),
        size(col("__g")).cast("long").as("n_grams"),
        aggregate(col("__g"), lit(0.0), (acc, g) =>
          acc + element_at(w,
            (pmod(Dedup.hash60(g), lit(dim.toLong)) + 1).cast("int")))
          .as("__s"))
      .select(col(idCol), col("n_grams"),
        col("__s").as("score_sum"),
        round(col("__s") / col("n_grams"), 6).as("mean_weight"))
  }

  /** Overlapping token-window chunking — the retrieval/RAG prep shape
    * (and long-document training splits): each document explodes into
    * windows of `chunkTokens` whitespace tokens advancing by
    * `strideTokens` (stride < chunk ⇒ overlap, the standard recipe so
    * no boundary sentence is lost to a cut). Window `i` covers token
    * offsets [i·stride, i·stride + chunk); the last window starts at
    * the largest offset still introducing ≥ 1 new token, so every
    * token lands in ≥ 1 chunk and no fully-redundant tail window is
    * emitted. One stateless explode — no shuffle; a 100 TB corpus
    * chunks in the scan. Token counts per chunk ride along (the tail
    * may be short). Output: `idCol`, chunk_idx, tok_start, chunk_text,
    * n_tokens. Docs with null/empty text produce no chunks. */
  def chunkWindows(df: DataFrame, idCol: String, text: Column,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens >= 1, got $chunkTokens")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      s"need 1 <= stride <= chunk, got $strideTokens/$chunkTokens")
    val ws = split(text, " ")
    // windows with start < nTokens introduce >= 1 new token; ceil form
    val nWin = ceil((size(ws) - lit(chunkTokens)) /
      lit(strideTokens.toDouble)).cast("long") + 1L
    val nW = when(nWin > graft.ops.Dedup.MaxChunksPerDoc,
      raise_error(concat(lit("chunkWindows: more than "),
        lit(graft.ops.Dedup.MaxChunksPerDoc.toString), lit(" windows in doc "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(greatest(nWin, lit(1L)))
    df.filter(text.isNotNull && length(text) >= 1)
      .select(col(idCol), ws.as("__ws"),
        explode(sequence(lit(0L), nW - 1L)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * strideTokens).as("tok_start"),
        array_join(slice(col("__ws"),
          (col("chunk_idx") * strideTokens + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens.toLong),
          size(col("__ws")) - col("chunk_idx") * strideTokens).cast("long")
          .as("n_tokens"))
  }

  /** Per-group vocabulary top-K: the `k` most frequent whitespace tokens
    * per `groupCol` (languages, sources, domains) — the corpus pass
    * behind tokenizer-vocabulary construction and per-language corpus
    * drift dashboards.
    *
    * Scale shape: one token explode into a two-key hash aggregate (the
    * exchange carries one partially-aggregated row per distinct (group,
    * token), not one per occurrence), then the bounded-heap
    * [[Rank.topNPerGroup]] over the vocab-sized count table — k rows of
    * state per group per task, never a per-group window sort — and one
    * vocab-sized equi-join to restore token strings. Ranking order is
    * count descending, ties by ascending [[Dedup.hash60]] of the token:
    * the heap's payload is integral, so the tie-break key IS the hash —
    * deterministic and cross-engine reproducible (an external oracle
    * orders by the same md5 construction). A same-group hash60 collision
    * would duplicate a rank row in the join-back; at 60 bits that needs
    * ~2^30 distinct tokens in ONE group to reach even 50% odds —
    * accepted and documented rather than paid for. */
  def vocabTopK(df: DataFrame, groupCol: String, text: Column, k: Int,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val counts = scope.cache(
      df.select(col(groupCol), explode(split(text, " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col(groupCol), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__tid", Dedup.hash60(col("token"))))
    // heap order is (score desc, id asc) = (cnt desc, hash60 asc)
    Rank.topNPerGroup(counts, Seq(groupCol), "__tid", "cnt", k)
      .join(counts.select(col(groupCol), col("token"), col("__tid").as("id")),
        Seq(groupCol, "id"))
      .select(col(groupCol), col("token"),
        col("score").cast("long").as("cnt"), col("rank"))
  }

  /** Distinguishing-token card per group: [[vocabTopK]] re-ranked by
    * an EXACT-INTEGER distinctiveness weight — `score = tf ·
    * (n_groups − group_df + 1)` — so the card surfaces what makes each
    * group DIFFERENT rather than the corpus-wide vocabulary every
    * group shares: a token in every group weighs 1 (pure frequency
    * fallback), a token unique to one group weighs n_groups. The
    * weight is the rational-idf ORDERING at integer exactness (idf is
    * monotone decreasing in df; so is this — no log, no cross-engine
    * rounding surface, with ONE bound: [[Rank.topNPerGroup]]'s heap
    * keys the score as a double, so scores past 2⁵³ (tf · n_groups ≳
    * 9·10¹⁵ — a quadrillion-token group) can collide in the heap's
    * ordering even though the EMITTED score column stays exact
    * integer; keep tf · (n_groups + 1) under 2⁵³ or rank on a
    * pre-scaled score). The curation use is cluster
    * inspection: "the quantizer put these 2M documents in one cell —
    * what ARE they?" — the human-readable companion to
    * [[Similarity.ivfDrift]]'s occupancy numbers (q162 composes the
    * two over doc_id ↔ vec_id).
    *
    * Scale shape: one token explode into the (group, token) hash
    * aggregate, a token-keyed join against the vocab-sized group-df
    * table, a 1-row broadcast for the group count, then the
    * bounded-heap [[Rank.topNPerGroup]] — k rows of state per group
    * per task, never a per-group window sort. Ranking is (score desc,
    * [[Dedup.hash60]] of the token asc) — the vocabTopK tie
    * convention, cross-engine reproducible. Output: groupCol, rank,
    * token, tf, group_df, score. */
  def distinguishingTokens(df: DataFrame, groupCol: String, text: Column,
      k: Int, scope: CacheScope = CacheScope.session): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val counts = scope.cache(
      df.select(col(groupCol), explode(split(text, " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col(groupCol), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__tid", Dedup.hash60(col("token"))))
    val dfc = counts.groupBy(col("token")).agg(count(lit(1)).as("__dfc"))
    val ng = counts.select(col(groupCol)).distinct()
      .agg(count(lit(1)).as("__ng"))
    val scored = counts.join(dfc, "token").crossJoin(broadcast(ng))
      .withColumn("__score",
        col("cnt") * (col("__ng") - col("__dfc") + lit(1L)))
    Rank.topNPerGroup(scored, Seq(groupCol), "__tid", "__score", k)
      .join(scored.select(col(groupCol), col("token"), col("cnt"),
          col("__dfc"), col("__tid").as("id")),
        Seq(groupCol, "id"))
      .select(col(groupCol), col("rank"), col("token"),
        col("cnt").as("tf"), col("__dfc").as("group_df"),
        col("score").cast("long").as("score"))
  }

  /** Per-document script/character-class mix — the cheap signal a
    * multilingual curation pass cuts on before any model-based langid:
    * fractions of Latin letters, digits, whitespace, CJK ideographs
    * (U+4E00–U+9FA5), and everything else. One zero-shuffle narrow
    * projection; each class count is `len(text) − len(text with the
    * class deleted)` over code points, so the five regexes are plain
    * character classes that mean the same thing in every regex dialect
    * (the PII-scrub cross-engine precedent). Fractions at 6 dp of the
    * code-point length; empty/whitespace-only docs keep fraction 0/len
    * semantics (len ≥ 1 rows only — the null/empty filter is the
    * caller's quality gate). Output: idCol, n_cp, latin_frac,
    * digit_frac, space_frac, cjk_frac, other_frac. */
  def scriptMix(df: DataFrame, idCol: String, text: Column): DataFrame = {
    def cnt(cls: String): Column =
      length(text) - length(regexp_replace(text, cls, ""))
    val classes = Seq(
      "latin" -> "[A-Za-z]", "digit" -> "[0-9]",
      "space" -> "[ \\t\\n\\r]", "cjk" -> "[\\x{4e00}-\\x{9fa5}]")
    val n = length(text)
    val counted = classes.map { case (nm, cls) => nm -> cnt(cls) }
    val known = counted.map(_._2).reduce(_ + _)
    df.filter(text.isNotNull && length(text) >= 1)
      .select(Seq(col(idCol), n.cast("long").as("n_cp")) ++
        counted.map { case (nm, c) =>
          round(c.cast("double") / n, 6).as(s"${nm}_frac") } :+
        round((n - known).cast("double") / n, 6).as("other_frac"): _*)
  }

  /** Per-document keyword extraction: top-k tokens by RATIONAL tf-idf
    * — score `tf · N / df` (the idf log's argument, the [[q82 BM25]]
    * no-libm convention: thresholding and ranking are monotone in it,
    * and it keeps every arithmetic step cross-engine bit-exact). N is
    * the number of TOKENIZED documents (≥ 1 non-empty token — the
    * corpus-size definition the BM25 advice fix standardized), df the
    * number of distinct docs containing the token. `tf · N` is an
    * exact integer product (< 2^53 for any real corpus since tf ≤ doc
    * length and N ≤ corpus size), and the single division by df is
    * IEEE-correctly-rounded — identical priority order on any engine;
    * ties break by the md5 token hash ascending.
    *
    * Scale shape: one cached explode; tf is a (doc, token)-keyed hash
    * aggregate; df aggregates the tf table to vocab size; N rides in
    * as a broadcast 1-row cross join; the df join-back keys on the
    * token (the hot-key hazard measured in SCALING.md round 14, "the
    * hot-key skew note": stopword keys — broadcast
    * while vocab fits, salt beyond); the final top-k is the bounded
    * heap, k rows of state per doc per task. Output: idCol, token,
    * tfidf (6 dp), rank. */
  def keywordsTopK(df: DataFrame, idCol: String, text: Column, k: Int,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val tf = scope.cache(
      df.filter(text.isNotNull)
        .select(col(idCol), explode(split(text, " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
        .withColumn("__tid", Dedup.hash60(col("token"))))
    val dft = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(count_distinct(col(idCol)).as("__n"))
    val scored = tf.join(dft, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("__pri",
        (col("tf") * col("__n")).cast("double") / col("df").cast("double"))
    Rank.topNPerGroup(scored, Seq(idCol), "__tid", "__pri", k)
      .select(col(idCol), col("id").as("__tid"),
        round(col("score"), 6).as("tfidf"), col("rank"))
      .join(tf.select(col(idCol), col("token"), col("__tid")),
        Seq(idCol, "__tid"))
      .select(col(idCol), col("token"), col("tfidf"), col("rank"))
  }

  /** Corpus-wide top-K co-occurring token pairs with a RATIONAL PMI —
    * the word2vec/PPMI-era association statistic (collocation mining,
    * tokenizer-merge candidates, corpus drift): two tokens within
    * `window` positions in a document are one co-occurrence, pairs are
    * unordered (lexicographic least/greatest), and the association
    * score is the log-PMI's ARGUMENT `n_ab·N / (n_a·n_b)` at 6 dp —
    * `ln` is libm-dependent (the [[tokenRarity]] reasoning) while the
    * ratio is one IEEE tree any engine reproduces; it is monotone in
    * PMI, so thresholds and per-pair comparisons carry over. The top-K
    * is by RAW co-occurrence count (ties by the cross-engine md5 hash
    * of the pair): count-ranked pairs with PMI attached is the
    * collocation-table shape — PMI-ranked output would surface
    * minCount-boundary hapax pairs first, the classic PMI artifact.
    *
    * Scale shape: the token-array projection is cached once and feeds
    * both the pair explode (fan-out ≤ window per token, built by a
    * nested-lambda scan — no self-join on position) and the unigram
    * explode; pair and unigram counts partially aggregate (the
    * exchanges carry DISTINCT pairs/tokens, zipf-truncated, not
    * occurrences); the total-token count rides a 1-row broadcast and
    * the unigram join-backs key on single tokens — the [[tokenRarity]]
    * hot-stopword skew note applies. The final ranking is the
    * k-rows-of-state bounded heap, never a corpus sort. Pairs under
    * `minCount` are dropped after the partial-agg (they cannot be
    * dropped before it — a pair's count is only known globally).
    * Output: tok_a, tok_b, n_ab, pmi_ratio, rank. */
  def cooccurTopK(df: DataFrame, text: Column, window: Int, k: Int,
      minCount: Long, scope: CacheScope = CacheScope.session): DataFrame = {
    require(window >= 1, s"window >= 1, got $window")
    require(k >= 1 && minCount >= 1, s"k >= 1 and minCount >= 1, got ($k, $minCount)")
    // cached token arrays serve the unigram count and the total; the
    // PAIR side deliberately re-scans the text instead — one codegen
    // call per row ([[graft.functions.CooccurPairs]]; the interpreted
    // nested-HOF form it replaces ran its lambdas outside whole-stage
    // codegen, the ShingleHashes pattern, measured ~8× slower through
    // the pair aggregate) straight off the column scan, because
    // caching the materialized pair arrays costs more than the scan
    // they save. Pair strings are "min max", unordered at the
    // occurrence level.
    val wsDf = scope.cache(df.select(
      filter(split(text, " "), t => t =!= "").as("__ws")))
    val pairs = df
      .select(explode(graft.functions.CooccurPairsFn(text, window)).as("__pair"))
      .groupBy(col("__pair")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val toks = wsDf.select(explode(col("__ws")).as("__tok"))
    val uni = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__n"))
    val tot = toks.agg(count(lit(1)).cast("double").as("__nn"))
    // cached: feeds the heap and the rank join-back (pairs-table-sized,
    // already minCount-pruned)
    val scored = scope.cache(pairs
      .withColumn("tok_a", split(col("__pair"), " ").getItem(0))
      .withColumn("tok_b", split(col("__pair"), " ").getItem(1))
      .join(uni.select(col("__tok").as("tok_a"), col("__n").as("__na")), "tok_a")
      .join(uni.select(col("__tok").as("tok_b"), col("__n").as("__nb")), "tok_b")
      .crossJoin(broadcast(tot))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(col("n_ab").cast("double") * col("__nn") /
          (col("__na").cast("double") * col("__nb").cast("double")), 6)
          .as("pmi_ratio"),
        Dedup.hash60(col("__pair")).as("__pid")))
    Rank.topNPerGroup(scored, Seq.empty, "__pid", "n_ab", k)
      .select(col("id").as("__pid"), col("rank"))
      .join(scored, "__pid")
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("pmi_ratio"),
        col("rank"))
  }

  /** Deterministic integer-valued stand-in weights for
    * [[hashedLinearScore]]: bucket b's weight is
    * `(md5-hash60(salt || b) mod 2001) − 1000` ∈ [−1000, 1000] — the
    * same md5-based hash the engine uses everywhere
    * ([[Dedup.hash60]]), so an external SQL engine regenerates the
    * identical model from (salt, dim) alone. Stands in for trained
    * weights where no model artifact is available (this sandbox);
    * a real deployment passes its trained array instead. */
  def md5Weights(dim: Int, salt: String): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { b =>
      val hex = md.digest(s"$salt$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L).toDouble
    }.toArray
  }

  /** One BPE statistics pass — the counting step a tokenizer trainer
    * iterates: corpus-wide frequencies of ADJACENT CHARACTER PAIRS
    * inside words, weighted by word frequency, top-k by count (ties by
    * the cross-engine md5 hash of the pair, the [[vocabTopK]]
    * convention). The classic BPE optimization is built in: pairs are
    * counted over the VOCAB (distinct words × their corpus counts),
    * not the corpus — the corpus-wide stage is one word-count hash
    * aggregate; the pair explode runs over vocab-sized input, and the
    * top-k is the bounded heap, never a global sort. Positions are
    * code points on both engines (`substr`), so multilingual text
    * pairs identically. Output: pair, n_occ, rank. */
  def bpePairCounts(df: DataFrame, text: Column, k: Int,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val words = df.filter(text.isNotNull)
      .select(explode(split(text, " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = scope.cache(words
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n_occ"))
      .withColumn("__pid", Dedup.hash60(col("pair"))))
    Rank.topNPerGroup(pairs, Seq.empty, "__pid", "n_occ", k)
      .select(col("id").as("__pid"), col("rank"))
      .join(pairs, "__pid")
      .select(col("pair"), col("n_occ"), col("rank"))
  }

  /** The shared word-gram array of [[hashedLinearScore]] (unigrams +
    * optional bigrams over single-space tokenization), factored so the
    * hashed-LM family below tokenizes identically. */
  private[ops] def wordGrams(text: Column, bigrams: Boolean): Column = {
    val toks = split(text, " ")
    val bi = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    if (bigrams) concat(toks, bi) else toks
  }

  /** Train a hashed word-gram count model (the count half of a
    * CCNet/KenLM-style n-gram LM, over `buckets` hash buckets instead
    * of an explicit vocabulary): gram g lands in bucket
    * `hash60(g) mod buckets`. Returns (per-bucket counts, total gram
    * count). The aggregation is corpus-wide but BUCKETS-sized (partial
    * map-side combine into ≤ `buckets` rows), and the collect fetches
    * the model, not data — the [[Similarity.ivfTopK]] centroid
    * convention: production trains once on a reference slice and ships
    * the array; at 100 TB the training pass is one bounded agg and the
    * model is a few KB. Null-text rows contribute nothing. */
  def hashedGramCounts(df: DataFrame, text: Column, buckets: Int,
      bigrams: Boolean = true): (Array[Long], Long) = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"need 2 <= buckets <= 2^20, got $buckets")
    val rows = df.filter(text.isNotNull)
      .select(explode(wordGrams(text, bigrams)).as("__g"))
      .select(pmod(Dedup.hash60(col("__g")), lit(buckets.toLong)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .collect()
    val counts = new Array[Long](buckets)
    rows.foreach(r => counts(r.getLong(0).toInt) = r.getLong(1))
    (counts, counts.sum)
  }

  /** Per-bucket add-one-smoothed log-probability terms in exact
    * MICRO-NATS (`round(ln((c+1)/(total+B)) · 1e6)`, half away from
    * zero — DuckDB `round` semantics): integer terms make the per-doc
    * score an order-free BIGINT sum, so the engine can fold them in a
    * narrow projection while an external SQL engine sums them through
    * an explode+join and both land on identical bits. */
  def lmTermMicros(counts: Array[Long], total: Long): Array[Long] =
    counts.map { c =>
      val x = math.log((c + 1).toDouble / (total + counts.length).toDouble) * 1e6
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    }

  /** Score documents under a hashed-gram term table ([[lmTermMicros]],
    * or a difference of two term tables for DSIR-style importance
    * weights): score_micro = Σ over the doc's grams of the gram's
    * bucket term, n_grams alongside, mean = score / 1e6 / n_grams at 6
    * dp. The whole scoring side is ONE narrow codegen projection — the
    * term table rides in the task binary as a literal array
    * ([[hashedLinearScore]]'s shape), so a 100 TB corpus scores in the
    * scan with zero shuffle and zero joins. Null-text docs are
    * excluded (they have no grams to score). */
  def hashedGramScore(df: DataFrame, idCol: String, text: Column,
      termMicros: Array[Long], bigrams: Boolean = true): DataFrame = {
    require(termMicros.nonEmpty, "termMicros must be non-empty")
    val dim = termMicros.length
    val t = typedLit(termMicros)
    df.filter(text.isNotNull)
      .withColumn("__g", wordGrams(text, bigrams))
      .select(col(idCol),
        size(col("__g")).cast("long").as("n_grams"),
        aggregate(col("__g"), lit(0L), (acc, g) =>
          acc + element_at(t,
            (pmod(Dedup.hash60(g), lit(dim.toLong)) + 1).cast("int")))
          .as("score_micro"))
      .select(col(idCol), col("n_grams"), col("score_micro"),
        round(col("score_micro").cast("double") / lit(1000000.0) /
          col("n_grams").cast("double"), 6).as("mean_score"))
  }
}

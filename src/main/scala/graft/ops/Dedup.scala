package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document pipelines, seeded by
  * the reference's dedupe topology fragment (willa `workflow.clj:6-24`:
  * keep the first record per id). All variants are built as *bucketed*
  * shapes: one hash shuffle on the dedup identity (or an LSH bucket key),
  * never an all-pairs comparison — the only scalable form at 100 TB.
  *
  * Near-dup families:
  *  - MinHash + LSH banding (shingle → 60-bit hash → k permutation mins →
  *    band keys → candidate pairs per band bucket → exact-Jaccard verify)
  *  - SimHash (token hashes → per-bit majority vote → 32-bit signature →
  *    banded candidate pairs → Hamming-distance filter)
  *  - n-gram Jaccard (inverted index on shingles with a document-frequency
  *    cap so hot shingles can't go quadratic)
  *  - embedding cosine (sign-bucket LSH over leading dimensions)
  *
  * Everything is Column-expression based (no UDFs) so the whole pipeline
  * stays inside whole-stage codegen and DuckDB can mirror it for oracles.
  */
object Dedup {

  /** Exact content dedup: one row per distinct `cols` combination. A
    * hash-shuffle `distinct` — partial aggregation shrinks the shuffle to
    * unique rows per map task. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** Canonical text normalization for exact-after-normalization dedup
    * (the standard training-data "exact-norm" family): strip every
    * non-ASCII-alphanumeric to a space FIRST (so no engine-specific
    * unicode lowercasing is ever involved), then lowercase, collapse
    * space runs, and trim. Pure ASCII ops — byte-identical across
    * engines, so the oracle mirrors it directly. */
  def normalizeText(t: Column): Column =
    trim(regexp_replace(
      lower(regexp_replace(t, "[^A-Za-z0-9 ]", " ")), " +", " "))

  /** Exact dedup after normalization: groups documents whose normalized
    * text collides (full 128-bit md5 of [[normalizeText]] — this operator
    * is advertised as EXACT, and at corpus scale the 60-bit birthday
    * bound ~n²/2⁶¹ would make a silent false merge probable; 128 bits
    * keeps the shuffle key a fixed 32 bytes instead of the whole
    * document), keeping the lowest id as the canonical representative and
    * the group size. With `onlyDups` the output is the (small) duplicate
    * report; without, the full canonical mapping — the table a pipeline
    * persists and anti-joins against to drop duplicates. One hash
    * aggregate; partial aggregation shrinks the shuffle. */
  def exactNormalized(df: DataFrame, idCol: String, text: Column,
      onlyDups: Boolean = true): DataFrame = {
    val groups = df
      .select(col(idCol), md5(normalizeText(text)).as("norm_key"))
      .groupBy(col("norm_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
    if (onlyDups) groups.filter(col("n_dups") > 1) else groups
  }

  /** Keep exactly one document per normalized-text group — the lowest id,
    * i.e. the `keep_id` of [[exactNormalized]]'s canonical mapping — and
    * drop the rest: the consumer half of normalized dedup, applied as a
    * LEFT SEMI join against the mapping (shuffle on the id, no payload
    * duplication, survivors keep all their columns). */
  def dropNormalizedDups(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val keep = exactNormalized(df, idCol, text, onlyDups = false)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Dedup-by-id keeping the record that is maximal under the total
    * lexicographic order of `payloadCols` (deterministic even when ids
    * collide with different payloads — the reference's keep-"latest" with
    * a total tie-break). Single hash aggregate: the argmax is
    * [[graft.functions.ArgExtremum]] (ObjectHashAggregate), because
    * native `max(struct)` can't run in HashAggregateExec and falls back
    * to a per-partition SortAggregate. */
  def keepLatest(df: DataFrame, idCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    val payload = struct(payloadCols.map(col): _*)
    df.groupBy(idCols.map(col): _*)
      .agg(graft.functions.ArgExtremum.maxBy(payload, payload).as("__p"))
      .select(idCols.map(col) ++ payloadCols.map(c => col(s"__p.`$c`").as(c)): _*)
  }

  /** First-occurrence dedup (the reference fragment's semantics:
    * emit a value only the first time its id is seen) — minimal payload
    * under the order columns. Hash-aggregated argmin (see
    * [[keepLatest]]). */
  def keepFirst(df: DataFrame, idCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    val payload = struct(payloadCols.map(col): _*)
    df.groupBy(idCols.map(col): _*)
      .agg(graft.functions.ArgExtremum.minBy(payload, payload).as("__p"))
      .select(idCols.map(col) ++ payloadCols.map(c => col(s"__p.`$c`").as(c)): _*)
  }

  /** Maximum chunk positions per document in [[chunkDedup]]'s packed
    * (doc, pos) key: 2^20 chunk slots keeps `doc_id · 2^20 + pos` exact
    * in a long for doc ids up to 2^43. */
  val MaxChunksPerDoc: Long = 1L << 20

  /** Chunk-level exact dedup — the practical, shuffle-friendly form of
    * exact-substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": duplicated PASSAGES,
    * not whole documents, dominate web corpora; their suffix array
    * doesn't distribute, fixed token chunks do): split each document
    * into consecutive `chunkTokens`-token chunks, keep only the FIRST
    * corpus-wide occurrence of each distinct chunk (first = smallest
    * (doc_id, position)), and reassemble every document from its
    * surviving chunks in order.
    *
    * Scale shape: one explode (corpus × ~tokens/chunkTokens rows,
    * persisted once through `scope` — it feeds both the keeper
    * aggregate and the join probe), one
    * hash aggregate on the chunk's full 128-bit md5 (EXACT — same
    * birthday-bound reasoning as [[exactNormalized]]; the 32-byte key
    * also shrinks the shuffle vs. shipping chunk text) whose min is a
    * SINGLE PACKED LONG `doc_id · 2^20 + pos` — a struct min would kick
    * the aggregate from HashAggregate into SortAggregate — then one
    * equi-join back on (key, packed) and a per-doc reassembly aggregate
    * (collect bounded by document length, sorted in-memory per doc, no
    * window). Documents whose every chunk was seen earlier vanish from
    * the output (their text is fully duplicate).
    *
    * The tail chunk is shorter than `chunkTokens` (both engines' slice
    * clamps); a guard embedded in the sequence bound fails fast past
    * [[MaxChunksPerDoc]] positions rather than silently corrupting the
    * packed key. */
  def chunkDedup(df: DataFrame, idCol: String, text: Column,
      chunkTokens: Int = 10,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens >= 1, got $chunkTokens")
    val ws = split(text, " ")
    val nRaw = ceil(size(ws) / lit(chunkTokens.toDouble)).cast("long")
    // guard inside the sequence's end bound so pruning can't drop it
    val nCh = when(nRaw > MaxChunksPerDoc,
      raise_error(concat(lit(s"chunkDedup: more than $MaxChunksPerDoc chunks in doc "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(nRaw)
    // persisted once (capBuckets discipline): the chunk projection feeds
    // both the keeper aggregate and the join probe — without the cache
    // the corpus is scanned+exploded twice. r20: the chunk STRING is
    // dropped after hashing (the cache and both exchanges carry only
    // (id, pos, 16-byte key, packed owner)); kept text reassembles from
    // the words array at the end (guide §2.3 — shuffle the decision,
    // not the payload)
    val exploded = scope.cache(df
      .select(col(idCol), ws.as("__ws"),
        explode(sequence(lit(0L), nCh - 1)).as("pos"))
      .select(col(idCol), col("pos"),
        md5(array_join(slice(col("__ws"),
          (col("pos") * chunkTokens + 1).cast("int"),
          lit(chunkTokens)), " ")).as("__k"))
      .withColumn("__dp", col(idCol).cast("long") * MaxChunksPerDoc + col("pos")))
    val keepers = exploded.groupBy(col("__k")).agg(min(col("__dp")).as("__dpm"))
    // LOST positions (occurrences beaten by an earlier copy) fold to one
    // array row per AFFECTED doc — the duplicated sliver, not the
    // corpus, so the reassembly join's right side stays broadcast-sized
    // and the corpus text never crosses an exchange; a doc whose every
    // chunk lost vanishes (the contract)
    val lostPos = exploded.join(keepers, Seq("__k"))
      .filter(col("__dp") =!= col("__dpm"))
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__lp"))
    df.select(col(idCol), ws.as("__ws"))
      .join(lostPos, Seq(idCol), "left")
      .withColumn("__nch",
        ceil(size(col("__ws")) / lit(chunkTokens.toDouble)).cast("long"))
      .filter(coalesce(size(col("__lp")).cast("long"), lit(0L)) < col("__nch"))
      .select(col(idCol),
        array_join(transform(
          array_except(sequence(lit(0L), col("__nch") - 1),
            coalesce(col("__lp"), array().cast("array<long>"))),
          p => array_join(slice(col("__ws"),
            (p * chunkTokens + 1).cast("int"), lit(chunkTokens)), " ")),
          " ").as("dedup_text"),
        (col("__nch") - coalesce(size(col("__lp")).cast("long"), lit(0L)))
          .as("n_chunks_kept"))
  }

  /** Boilerplate-span removal — the C4/RefinedWeb companion to
    * [[chunkDedup]] with the OPPOSITE keep rule: a span of `spanTokens`
    * consecutive tokens that occurs in at least `minDocs` DISTINCT
    * documents is boilerplate (nav bars, cookie banners, license
    * headers, template stubs) and EVERY occurrence is dropped — the
    * first one too, which is exactly where [[chunkDedup]] differs (it
    * keeps the earliest copy, because there the duplicated passage is
    * assumed to be content). Spans below the document-frequency bar are
    * all kept, duplicated or not. C4 (Raffel et al. 2020, §2.2) applies
    * this at the three-sentence level, RefinedWeb at the line level;
    * token spans are the tokenizer-only form that needs no sentence or
    * line structure.
    *
    * Scale shape: identical to [[chunkDedup]] — the exploded span
    * projection is persisted once through `scope` and feeds (a) a hash
    * aggregate computing per-span-md5 DISTINCT-document counts (two-level
    * partial agg, no expand), and (b) the join probe. The hot-key side
    * (df ≥ minDocs) is typically a sliver of the key space — AQE
    * broadcasts it when it fits — and the per-doc reassembly is the same
    * bounded in-memory sort. Every input document survives in the
    * output; a fully-boilerplate document comes back with an empty
    * `clean_text` and `n_spans_kept = 0` (dropping short survivors is a
    * downstream filter's decision, not this operator's).
    *
    * The aggregate keys on the span's full 128-bit md5 (birthday-safe,
    * fixed 32-byte shuffle key) exactly as [[chunkDedup]] does. */
  def boilerplateSpans(df: DataFrame, idCol: String, text: Column,
      spanTokens: Int = 3, minDocs: Int = 3,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(spanTokens >= 1, s"spanTokens >= 1, got $spanTokens")
    require(minDocs >= 2, s"minDocs >= 2, got $minDocs")
    val ws = split(text, " ")
    val nCh = ceil(size(ws) / lit(spanTokens.toDouble)).cast("long")
    // r20: the span STRING is dropped after hashing and only HOT span
    // positions travel (one array row per affected doc) — the r19 shape
    // shipped every document's full text through the reassembly
    // exchange as (pos, span) structs; clean text now reassembles from
    // the words array in a final narrow projection
    val exploded = scope.cache(df
      .select(col(idCol), ws.as("__ws"),
        explode(sequence(lit(0L), nCh - 1)).as("pos"))
      .select(col(idCol), col("pos"),
        md5(array_join(slice(col("__ws"),
          (col("pos") * spanTokens + 1).cast("int"),
          lit(spanTokens)), " ")).as("__k")))
    val hot = exploded.groupBy(col("__k"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"))
    val hotPos = exploded.join(hot, Seq("__k"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__hp"))
    df.select(col(idCol), ws.as("__ws"))
      .filter(col("__ws").isNotNull)
      .join(hotPos, Seq(idCol), "left")
      .withColumn("__nch",
        ceil(size(col("__ws")) / lit(spanTokens.toDouble)).cast("long"))
      .select(col(idCol),
        array_join(transform(
          array_except(sequence(lit(0L), col("__nch") - 1),
            coalesce(col("__hp"), array().cast("array<long>"))),
          p => array_join(slice(col("__ws"),
            (p * spanTokens + 1).cast("int"), lit(spanTokens)), " ")),
          " ").as("clean_text"),
        (col("__nch") - coalesce(size(col("__hp")).cast("long"), lit(0L)))
          .as("n_spans_kept"),
        coalesce(size(col("__hp")).cast("long"), lit(0L))
          .as("n_spans_dropped"))
  }

  /** MAXIMAL duplicated token spans — the exact-substring dedup unit of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (the suffix-array pass, re-expressed relationally): a
    * position is duplicated when its `n`-token shingle occurs in at
    * least `minDocs` DISTINCT documents; duplicated positions then
    * coalesce by TOKEN-INTERVAL UNION — start positions merge while the
    * next span's interval overlaps or touches the previous one's
    * (`next_start ≤ prev_end + 1`, i.e. position gap ≤ n) — so the
    * output is the DISJOINT maximal duplicated regions a Lee-et-al
    * cutter cuts directly, with no double-reported overlap between
    * rows (the r16 fix: consecutive-position islands emitted spans
    * overlapping by up to n−2 tokens when positions p and p+2 were
    * duplicated via different partner docs but p+1 was not). Not fixed
    * chunks ([[boilerplateSpans]]' unit) and not document pairs (the
    * MinHash family's): each region is a union of overlapping/adjacent
    * duplicated n-token runs (the region as a WHOLE need not recur
    * elsewhere as one run), reported once per document with 1-based
    * token boundaries and the span text.
    *
    * Scale shape: one positional shingle explode (docs shorter than n
    * are filtered BEFORE the `sequence` so it never runs descending),
    * cached once through `scope`; the duplicated-shingle set is a
    * per-md5 distinct-doc hash aggregate (two-level partials) and
    * comes back as a left-semi probe — at corpus scale it is the
    * sliver of shingles that ARE duplicated, never the corpus. The
    * island merge is array-form (r20): the sliver folds into one
    * sorted per-document position array and interval-union islands
    * derive from it with narrow array expressions — no window pass,
    * no per-partition sort, state bounded by document length.
    * Keys are the span's full 128-bit md5 (birthday-safe), like
    * [[chunkDedup]]. Output: idCol, span_start, span_end (1-based
    * inclusive token indexes), n_tokens, span_text. */
  def duplicatedSpans(df: DataFrame, idCol: String, text: Column,
      n: Int = 8, minDocs: Int = 2,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(n >= 2, s"n >= 2, got $n")
    require(minDocs >= 2, s"minDocs >= 2, got $minDocs")
    val shingled = scope.cache(df
      .select(col(idCol), split(text, " ").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col(idCol), col("__ws"),
        explode(sequence(lit(1), size(col("__ws")) - lit(n - 1))).as("pos"))
      .withColumn("__k",
        md5(array_join(slice(col("__ws"), col("pos"), lit(n)), " "))))
    val hot = shingled.groupBy(col("__k"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"))
    val dup = shingled.join(hot, Seq("__k"), "left_semi")
    // the words array stays OUT of the span aggregate (First over an
    // array falls back to SortAggregate — the plan gate's red line);
    // spans join back to a one-row-per-doc words table read from the
    // same cache (the pos = 1 slice exists for every doc ≥ n tokens)
    val words = shingled.filter(col("pos") === 1)
      .select(col(idCol), col("__ws"))
    // interval-union islands, per-document ARRAY form (r20): the
    // duplicated sliver folds into ONE sorted position array per doc;
    // islands derive from it with narrow array expressions — an OPENER
    // is the first position or one whose gap to its predecessor
    // exceeds n, island k spans from opener k to the position just
    // before opener k+1 (or the last position). This replaces the two
    // ordered window passes (one exchange + per-partition sort) and
    // the (doc, grp) aggregate exchange with a single per-doc
    // aggregate; the explode returns islands only.
    val grouped = dup.groupBy(col(idCol))
      .agg(array_sort(collect_list(col("pos"))).as("__ps"))
    val islands = grouped
      // opener INDEXES into __ps (1-based, element_at convention). The
      // i = 1 arm is a structural `when`, not an Or: element_at with
      // index 0 ALWAYS throws (INVALID_INDEX_OF_ZERO, ANSI or not), so
      // the guard must not rely on Or's evaluation order surviving
      // future expression rewrites (r20 ADVICE).
      .withColumn("__op", filter(
        transform(sequence(lit(1), size(col("__ps"))), i => i),
        i => when(i === 1, lit(true)).otherwise(
          element_at(col("__ps"), i) - element_at(col("__ps"), i - 1) > n)))
      .select(col(idCol), col("__ps"),
        explode(transform(col("__op"), (i, k) => struct(
          element_at(col("__ps"), i).as("__a"),
          element_at(col("__ps"),
            when(k === size(col("__op")) - 1, size(col("__ps")))
              .otherwise(element_at(col("__op"), k + 2) - 1)).as("__b"))))
          .as("__isl"))
      .select(col(idCol), col("__isl.__a").as("__a"), col("__isl.__b").as("__b"))
    islands
      .join(words, Seq(idCol))
      .select(col(idCol),
        col("__a").cast("long").as("span_start"),
        (col("__b") + lit(n - 1)).cast("long").as("span_end"),
        (col("__b") - col("__a") + lit(n)).cast("long").as("n_tokens"),
        array_join(slice(col("__ws"), col("__a"),
          col("__b") - col("__a") + lit(n)), " ").as("span_text"))
  }

  /** Exact-substring SPAN-CUT dedup — the consumer [[duplicatedSpans]]
    * reports FOR: the Lee-et-al pass that keeps each duplicated run's
    * FIRST corpus-wide occurrence, cuts every other occurrence's
    * tokens, and reassembles the surviving text (the exact-substring
    * analogue of [[chunkDedup]]'s keep-earliest + reassemble, at token
    * rather than chunk granularity).
    *
    * Semantics, fully relational: a position is duplicated when its
    * `n`-token shingle occurs in ≥ `minDocs` DISTINCT documents; the
    * duplicated shingle's OWNER is its first occurrence corpus-wide
    * (minimum packed `doc·2²⁰ + pos` — [[chunkDedup]]'s keeper rule,
    * so a within-document repeat keeps exactly one copy too); a token
    * covered by ≥ 1 duplicated occurrence survives iff SOME covering
    * occurrence in its document is an owner. Uncovered tokens always
    * survive; a document that is entirely someone else's text comes
    * back with empty `dedup_text` and `n_tokens_kept = 0` (dropping
    * short survivors is a downstream filter's decision —
    * [[boilerplateSpans]]' convention). Null-text documents are absent
    * (the [[chunkDedup]] rule).
    *
    * Scale shape (r20 array form): the positional shingle explode is
    * cached once through `scope` and feeds (a) the per-md5
    * (distinct-doc count, min-packed-owner) hash aggregate and (b) the
    * join probe; the ownership join returns only the duplicated
    * SLIVER, which folds into ONE per-document aggregate row carrying
    * the occurrence-position arrays — token coverage and the
    * owned/unowned set difference are narrow array expressions inside
    * that row (O(positions·n) longs in-task, never an exchange), and
    * REASSEMBLY is one left join of the doc table against the
    * cut-array rows plus a codegen projection — untouched documents
    * pass through on the null branch. Keys are the span md5
    * (birthday-safe); the packed owner key fail-fasts past
    * [[MaxChunksPerDoc]] positions, riding the sequence bound so
    * pruning can't drop it. Output: idCol, dedup_text, n_tokens_kept,
    * n_tokens_cut. */
  def spanCutDedup(df: DataFrame, idCol: String, text: Column,
      n: Int = 8, minDocs: Int = 2,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(n >= 2, s"n >= 2, got $n")
    require(minDocs >= 2, s"minDocs >= 2, got $minDocs")
    val base = df.select(col(idCol), split(text, " ").as("__ws"))
      .filter(col("__ws").isNotNull)
    val shingled = scope.cache(base
      .filter(size(col("__ws")) >= n)
      .select(col(idCol), col("__ws"),
        explode(sequence(lit(1L), shinglePositions("spanCutDedup", idCol, n))).as("pos"))
      .withColumn("__k",
        md5(array_join(slice(col("__ws"), col("pos").cast("int"), lit(n)), " ")))
      .withColumn("__dp",
        col(idCol).cast("long") * MaxChunksPerDoc + col("pos")))
    val hotOwn = shingled.groupBy(col("__k"))
      .agg(count_distinct(col(idCol)).as("__df"), min(col("__dp")).as("__own"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"), col("__own"))
    val dup = shingled.join(hotOwn, Seq("__k"))
      .select(col(idCol), col("pos"),
        (col("__dp") === col("__own")).as("__owned"))
    // token-level resolution over the duplicated sliver, per-document
    // ARRAY form (r20): cut iff covered by SOME occurrence and by NO
    // owned occurrence — cut = cover(all positions) \ cover(owned
    // positions), computed inside one per-doc aggregate row instead of
    // exploding the sliver n× into (doc, token) rows (collect_list
    // skips the nulls the `when` leaves on non-owned rows)
    val cutArrs = dup.groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__aps"),
        collect_list(when(col("__owned"), col("pos"))).as("__ops"))
      .select(col(idCol),
        array_except(coverPositions(col("__aps"), n),
          coverPositions(col("__ops"), n)).as("__cut"))
      .filter(size(col("__cut")) > 0)
    cutAndReassemble(base, cutArrs, idCol)
  }

  /** The number of `n`-token shingle positions of each `__ws` words array,
    * as a long, failing fast (naming the document) past
    * [[MaxChunksPerDoc]]: the span-cut family's memory guard, evaluated
    * before the positional explode so a huge document never expands, and
    * the bound [[spanCutDedup]]'s packed owner key relies on. */
  private def shinglePositions(op: String, idCol: String, n: Int): Column = {
    val nRaw = (size(col("__ws")) - lit(n - 1)).cast("long")
    when(nRaw > MaxChunksPerDoc,
      raise_error(concat(
        lit(s"$op: more than $MaxChunksPerDoc positions in doc "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(nRaw)
  }

  /** Distinct 1-based token positions covered by the `n`-token runs
    * starting at positions `ps` — the per-document cut-set
    * materialization of the span-cut family. O(|ps|·n) longs built in
    * one task per document (bounded by n·[[MaxChunksPerDoc]] in the
    * worst fully-duplicated case — the r19 shape shuffled the same
    * volume as (doc, token) ROWS through an exchange plus a distinct
    * aggregate instead, so the array form is strictly cheaper). */
  private def coverPositions(ps: Column, n: Int): Column =
    array_distinct(flatten(transform(ps,
      p => sequence(p.cast("long"), p.cast("long") + lit((n - 1).toLong)))))

  /** The span-cut reassembly shared by [[spanCutDedup]] and
    * [[spanCutAgainst]]/[[spanCutAgainstIndex]] — ARRAY form (r20
    * optimization, guide §2.3/§2.4: shuffle the decision, not the
    * payload): `base` is (idCol, __ws words array), `cutArrs` is one
    * row per document that lost tokens, (idCol, __cut) with __cut the
    * DISTINCT 1-based positions to drop. ONE left join replaces the
    * r19 shape's four exchanges (per-token cut explode + (doc, token)
    * distinct, cut-count aggregate, affected-doc re-explode +
    * anti-join, per-doc collect + in-memory sort): the cut decision
    * travels as a single int-array row per affected document, and the
    * reassembly is a narrow codegen projection over the original words
    * array (array_except keeps the ascending sequence order, so tokens
    * rejoin in document order). Untouched documents pass through on
    * the join's null branch; a fully-cut document survives with empty
    * `dedup_text` and `n_tokens_kept = 0`. */
  private def cutAndReassemble(base: DataFrame, cutArrs: DataFrame,
      idCol: String): DataFrame =
    base.join(cutArrs, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cut").isNull, array_join(col("__ws"), " "))
          .otherwise(array_join(transform(
            array_except(sequence(lit(1L), size(col("__ws")).cast("long")),
              col("__cut")),
            t => element_at(col("__ws"), t.cast("int"))), " "))
          .as("dedup_text"),
        (size(col("__ws")).cast("long") -
          coalesce(size(col("__cut")).cast("long"), lit(0L)))
          .as("n_tokens_kept"),
        coalesce(size(col("__cut")).cast("long"), lit(0L)).as("n_tokens_cut"))

  /** [[spanCutDedup]]'s crawl-ingest form — the q63/q77 family shape at
    * span granularity: cut every incoming token covered by an n-shingle
    * that ALREADY EXISTS in the standing reference corpus. The
    * reference is the authoritative kept text, so its copies own every
    * shared run (no packed-key ownership race — incoming occurrences
    * are never owners), and the reference side reduces to a DISTINCT
    * shingle-md5 set: the standing span INDEX a deployment precomputes
    * once and probes per batch (in-query it is rebuilt — the q157
    * self-containment convention; the reference TEXT is never
    * reassembled or re-cut). Within-batch duplication is deliberately
    * out of scope — run [[spanCutDedup]] over the batch first (or
    * after), exactly as [[dropNearDupsAgainst]] composes with the batch
    * MinHash pass.
    *
    * Scale shape (r20 array form): reference explode → distinct md5
    * hash aggregate (the index build, amortizable); the incoming
    * explode's duplicated sliver is a left-semi probe of the index and
    * folds into one per-document position-array aggregate; token
    * coverage is a narrow array expression and the reassembly is one
    * left join + codegen projection (see [[spanCutDedup]]).
    * Output: [[spanCutDedup]]'s exact shape, for INCOMING docs only. */
  def spanCutAgainst(incoming: DataFrame, reference: DataFrame,
      idCol: String, text: Column, n: Int = 8,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(n >= 2, s"n >= 2, got $n")
    val refKeys = reference
      .select(split(text, " ").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("__ws"),
        explode(sequence(lit(1), size(col("__ws")) - lit(n - 1))).as("pos"))
      .select(md5(array_join(
        slice(col("__ws"), col("pos"), lit(n)), " ")).as("__k"))
      .distinct()
    val base = incoming.select(col(idCol), split(text, " ").as("__ws"))
      .filter(col("__ws").isNotNull)
    // single consumer since the r20 array-form reassembly (the matched
    // sliver folds straight into one per-doc aggregate) — no cache:
    // materializing a single-consumer explode costs a full extra pass
    val shingled = base
      .filter(size(col("__ws")) >= n)
      .select(col(idCol), col("__ws"), explode(sequence(lit(1),
        shinglePositions("spanCutAgainst", idCol, n).cast("int"))).as("pos"))
      .withColumn("__k",
        md5(array_join(slice(col("__ws"), col("pos"), lit(n)), " ")))
    val cutArrs = shingled.join(refKeys, Seq("__k"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__ps"))
      .select(col(idCol), coverPositions(col("__ps"), n).as("__cut"))
    cutAndReassemble(base, cutArrs, idCol)
  }

  /** The standing span INDEX [[spanCutAgainst]] describes — the
    * reference corpus's DISTINCT shingle-md5 keys as a one-column
    * (`__k`) frame, extracted once so a deployment can PERSIST it
    * (e.g. [[graft.sources.Sources.writeBucketedTable]] bucketed on
    * `__k`: every later probe batch semi-joins against the standing
    * files with no exchange on the index side) instead of re-paying
    * the reference explode per batch. [[spanCutAgainstIndex]] probes
    * it; `spanCutAgainstIndex(inc, spanIndexKeys(ref, text, n), ...)`
    * ≡ `spanCutAgainst(inc, ref, ...)` by construction (unit-pinned). */
  def spanIndexKeys(reference: DataFrame, text: Column, n: Int): DataFrame = {
    require(n >= 2, s"n >= 2, got $n")
    reference
      .select(split(text, " ").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("__ws"),
        explode(sequence(lit(1), size(col("__ws")) - lit(n - 1))).as("pos"))
      .select(md5(array_join(
        slice(col("__ws"), col("pos"), lit(n)), " ")).as("__k"))
      .distinct()
  }

  /** [[spanCutAgainst]] probing a PRE-BUILT standing index
    * ([[spanIndexKeys]]' (`__k`) shape — typically read back from the
    * bucketed table a deployment wrote at index-build time): identical
    * semantics, but the per-batch cost is ONLY the incoming explode +
    * the semi-join probe — the reference corpus is never re-read,
    * which is the amortization the incremental family's scale story
    * rests on (measured: ScaleProbe `span_index_build` vs
    * `span_cut_probe_indexed`). */
  def spanCutAgainstIndex(incoming: DataFrame, refIndex: DataFrame,
      idCol: String, text: Column, n: Int = 8,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(n >= 2, s"n >= 2, got $n")
    val base = incoming.select(col(idCol), split(text, " ").as("__ws"))
      .filter(col("__ws").isNotNull)
    // single consumer since the r20 array-form reassembly — no cache
    // (see [[spanCutAgainst]])
    val shingled = base
      .filter(size(col("__ws")) >= n)
      .select(col(idCol), col("__ws"), explode(sequence(lit(1),
        shinglePositions("spanCutAgainstIndex", idCol, n).cast("int"))).as("pos"))
      .withColumn("__k",
        md5(array_join(slice(col("__ws"), col("pos"), lit(n)), " ")))
    val cutArrs = shingled
      .join(refIndex.select(col("__k")), Seq("__k"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__ps"))
      .select(col(idCol), coverPositions(col("__ps"), n).as("__cut"))
    cutAndReassemble(base, cutArrs, idCol)
  }

  /** Standing-index UPDATE — the step after [[spanCutAgainstIndex]]
    * that closes the ingest loop (r18 verdict: q171 probes a FROZEN
    * artifact; a real crawl appends each batch's surviving spans so
    * batch N+1 dedups against reference ∪ batches 1..N): once a batch
    * is span-cut, its SURVIVING text is corpus text, and its shingles
    * must join the index or the next batch re-admits the same runs.
    * Returns the NEW keys only — the batch text's distinct shingle
    * keys ([[spanIndexKeys]]) anti-joined against the standing index —
    * so the append cost is ∝ batch, never ∝ index (the anti-join
    * probes the index per batch key; appended to a bucketed standing
    * table via `insertInto` the write keeps the bucketing and later
    * probes see old ∪ new with no index-side exchange). In-query
    * composition unions instead of writing
    * (`index.unionByName(spanIndexAppend(index, batch, …))` — q175).
    * `text` must be the survivors' REASSEMBLED `dedup_text`: shingles
    * the cut removed are no longer corpus text and must not enter the
    * index (and spans of the cut boundary's new token adjacencies are
    * REAL corpus runs of the surviving text — exactly what the next
    * batch should dedup against). Read-your-own-writes hazard: when
    * `index` reads the very TABLE the keys will be appended to, the
    * returned frame is LAZY and re-anti-joins against the
    * already-appended table (emptying itself) — and CACHING does not
    * save it: Spark invalidates caches over a table on write, so a
    * materialized plan recomputes too. Derive the frames reused after
    * the append from SOURCE lineage (or a staging write), as the
    * persisted-append spec pins. */
  def spanIndexAppend(index: DataFrame, batch: DataFrame, text: Column,
      n: Int): DataFrame =
    spanIndexKeys(batch, text, n)
      .join(index.select(col("__k")), Seq("__k"), "left_anti")

  // ---------------------------------------------------------------- text

  /** Distinct word `n`-gram shingles of a whitespace-tokenized text.
    * Empty array when the text has fewer than `n` tokens.
    *
    * Kept as ONE inline expression deliberately: splitting it into a
    * words-array projection consumed by the lambda looks cheaper but is
    * ~15× slower end-to-end, because `InferFiltersFromGenerate` copies
    * the generator expression into a pushed-down `size(..)>0` filter and
    * alias substitution re-inlines the `split` under every `element_at`
    * — the filter then re-tokenizes each document several times per
    * shingle (measured on the documents corpus). */
  def wordShingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    when(size(words) >= n,
      array_distinct(transform(
        sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", slice(words, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Deterministic 60-bit positive hash of a string: first 15 hex chars of
    * its md5. Cross-engine reproducible (DuckDB:
    * `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`). */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** MinHash prime modulus (2^31 − 1): `a*h + b` stays < 2^62, so the
    * arithmetic is exact in 64-bit on both Spark and DuckDB. */
  val MinHashP = 2147483647L

  /** Per-doc MinHash signature: for each of `k` permutations, the min
    * permuted hash over the doc's shingles. Output: `idCol`, `sig`
    * (array<long> of length k), plus `nsh` (distinct shingle count).
    * Two chained codegen passes ([[graft.functions.ShingleHashes]] →
    * [[graft.functions.MinHashSig]]) in one narrow projection — no
    * shingle explode, no shuffle; the original explode + k-min hash
    * aggregate pushed one row per SHINGLE through an exchange just to
    * collapse back to one row per doc. Docs with no shingles (under n
    * words, or null text) are absent, as they were from the exploded
    * form. */
  def minHashSignatures(df: DataFrame, idCol: String, text: Column, n: Int, k: Int): DataFrame =
    // the empty-doc filter tests the cheap word count, NOT size(__shs):
    // a predicate on __shs gets pushed below the projection with the
    // shingle expression substituted in — hashing every doc twice
    // (verified in the optimized plan). Same predicate by construction:
    // shingles are empty iff the doc has under n words (null text → null
    // → dropped, as explode_outer+filter dropped it before).
    df.filter(size(split(text, " ")) >= n)
      .select(col(idCol), graft.functions.ShingleHashesFn(text, n).as("__shs"))
      .select(col(idCol),
        graft.functions.MinHashSigFn(col("__shs"), k).as("sig"),
        size(col("__shs")).cast("long").as("nsh"))

  /** Drop rows whose bucket (the given key columns) holds more than
    * `maxBucket` members — the [[ngramJaccardPairs]] `maxDf` analogue for
    * LSH band/sign buckets. A degenerate bucket key (boilerplate-heavy
    * corpus, all-zero embeddings) otherwise lands its whole bucket on one
    * reducer doing O(bucket²) pair work — the classic LSH skew bomb at
    * scale. Capping drops only candidate *pairs between already-known
    * near-identical docs* (that's what an over-full bucket is), which
    * callers handle the same way they handle `maxDf`: the cap is part of
    * the operator contract and is mirrored in oracles. Implemented as a
    * hash aggregate on the bucket key + semi-style equi-join — partial
    * aggregation keeps the count shuffle small, no sorts.
    *
    * The bucketed input feeds both the count aggregate and the join probe
    * side, so it is persisted and eagerly materialized once through the
    * caller's [[CacheScope]] (same rationale as [[ngramJaccardPairs]]'
    * index cache: without it the upstream scan + bucket projection runs
    * twice, and the two consumers race to compute the same partitions).
    * Block lifetime is the scope's; size is one row per (input row,
    * bucket key). */
  private[ops] def capBuckets(df: DataFrame, keys: Seq[String], maxBucket: Long,
      scope: CacheScope = CacheScope.session): DataFrame =
    if (maxBucket <= 0) df
    else {
      val b = scope.cache(df)
      b.join(
        b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucket).drop("__bn"),
        keys)
    }

  /** One (id, band, bkey) row per signature band: band `b`'s key is the
    * comma-joined run of `rowsPerBand` consecutive signature values —
    * shared by the self-join ([[lshCandidates]]) and cross-corpus
    * ([[lshCandidatesAgainst]]) candidate generators so their bucket
    * keys cannot drift apart. */
  private def bandSignatures(sigs: DataFrame, idCol: String,
      k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    sigs.select(
      col(idCol),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until rowsPerBand).map(r =>
            col("sig").getItem(b * rowsPerBand + r).cast("string")): _*).as("bkey"))
      }: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bkey"))
  }

  /** LSH banding: candidate pairs are docs sharing at least one band of
    * `rowsPerBand` consecutive signature values. The join is *per band
    * bucket* (equi-join on the band key) — the scale-out shape: a band
    * bucket holds only near-identical docs, so the pair blowup is local.
    * Buckets larger than `maxBucket` are dropped entirely (skew guard;
    * `maxBucket <= 0` disables). Returns distinct (a, b) pairs, a < b. */
  def lshCandidates(sigs: DataFrame, idCol: String, k: Int, rowsPerBand: Int,
      maxBucket: Long = 0L, scope: CacheScope = CacheScope.session): DataFrame = {
    val banded = capBuckets(bandSignatures(sigs, idCol, k, rowsPerBand),
      Seq("band", "bkey"), maxBucket, scope)
    val l = banded.select(col("band"), col("bkey"), col(idCol).as("a"))
    val r = banded.select(col("band"), col("bkey"), col(idCol).as("b"))
    l.join(r, Seq("band", "bkey")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Cross-corpus LSH candidates — the incremental-ingest half of MinHash
    * dedup: (a = incoming id, b = reference id) pairs sharing at least
    * one band bucket, with NO pairs generated within either corpus. The
    * recurring production shape is "dedupe this week's crawl against the
    * standing corpus": re-running the self-join over corpus ∪ batch
    * re-pays the whole corpus's banding and pair work every ingest, while
    * this joins the (tiny) batch's bands against the corpus's — whose
    * signatures are computed once at ingest and persist as a table.
    *
    * Each side is bucket-capped independently at `maxBucket` (skew
    * guard, `<= 0` disables): a boilerplate-degenerate band bucket is
    * excluded for the side where it is degenerate, bounding any single
    * bucket's pair fan-out at `maxBucket²` — same contract (and same
    * oracle mirror) as [[lshCandidates]]. Returns distinct (a, b). */
  def lshCandidatesAgainst(incSigs: DataFrame, refSigs: DataFrame,
      idCol: String, k: Int, rowsPerBand: Int,
      maxBucket: Long = 0L, scope: CacheScope = CacheScope.session): DataFrame = {
    val bi = capBuckets(bandSignatures(incSigs, idCol, k, rowsPerBand),
      Seq("band", "bkey"), maxBucket, scope)
    val br = capBuckets(bandSignatures(refSigs, idCol, k, rowsPerBand),
      Seq("band", "bkey"), maxBucket, scope)
    bi.select(col("band"), col("bkey"), col(idCol).as("a"))
      .join(br.select(col("band"), col("bkey"), col(idCol).as("b")),
        Seq("band", "bkey"))
      .select("a", "b").distinct()
  }

  /** Incoming ids whose MinHash signature agreement with at least one
    * reference candidate reaches `threshold` (fraction of the k
    * signature positions that match — the standard Jaccard estimator).
    * Both signature inputs are [[minHashSignatures]] outputs; candidates
    * come from [[lshCandidatesAgainst]] so only banded collisions are
    * verified. The agreement count is exact integer arithmetic
    * (`zip_with` equality fold), so the `>= threshold` cut is
    * cross-engine reproducible. Returns one `idCol` row per matched
    * incoming doc — feed to [[dropNearDupsAgainst]]. */
  def minhashMatchedAgainst(incSigs: DataFrame, refSigs: DataFrame,
      idCol: String, k: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Long = 0L, scope: CacheScope = CacheScope.session): DataFrame = {
    val cands = lshCandidatesAgainst(incSigs, refSigs, idCol, k, rowsPerBand,
      maxBucket, scope)
    val sa = incSigs.select(col(idCol).as("a"), col("sig").as("__sa"))
    val sb = refSigs.select(col(idCol).as("b"), col("sig").as("__sb"))
    cands.join(sa, "a").join(sb, "b")
      .withColumn("__match",
        aggregate(zip_with(col("__sa"), col("__sb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _))
      .filter(col("__match").cast("double") / k >= threshold)
      .select(col("a").as(idCol)).distinct()
  }

  /** Drop incoming docs matched against the reference corpus — the
    * consumer half of incremental dedup. `matched` is
    * [[minhashMatchedAgainst]]'s output (or any one-column id set); one
    * anti-join on the id. Unlike [[dropNearDups]] there is no
    * connected-components step: matches point INTO the reference corpus,
    * whose members are kept by definition, so dropping every matched
    * incoming doc is already the transitive-safe rule. */
  def dropNearDupsAgainst(incoming: DataFrame, idCol: String,
      matched: DataFrame): DataFrame =
    incoming.join(matched, Seq(idCol), "left_anti")

  /** The STREAM-SAFE form of incremental MinHash dedup — same drop set
    * as [[minhashMatchedAgainst]] + [[dropNearDupsAgainst]], restructured
    * so every stage is STATELESS and the operator runs at ingest on a
    * live `readStream` with NO state store, no watermark, and no
    * end-to-end aggregation:
    *
    *  1. signatures are the codegen projections ([[graft.functions
    *     .ShingleHashesFn]]/[[graft.functions.MinHashSigFn]] — per-row,
    *     no shuffle), and each band key is a projected column;
    *  2. the batch form's "candidates from ANY band, then one agreement
    *     check per pair" becomes a CHAIN of per-band stream–static LEFT
    *     ANTI equi-joins (band b's join keys on the b-th band key, with
    *     the signature-agreement cut inside the join condition): a doc
    *     is dropped at the first band where a qualifying reference
    *     neighbor exists — exactly the batch disjunction, since the
    *     agreement test for a pair is band-independent;
    *  3. docs too short to sign (and null text) bypass the chain and
    *     survive, as in the batch form.
    *
    * The reference side is banded + bucket-capped ONCE
    * ([[capBuckets]], static-side skew guard; a degenerate incoming
    * band key merely probes a bucket the static side already dropped).
    * Works identically on a batch `incoming` (same plan, same rows) —
    * the congruity test pins stream output == the batch twin. Returns
    * `incoming`'s columns, survivors only. */
  def dropNearDupsAgainstLive(incoming: DataFrame, refSigs: DataFrame,
      idCol: String, text: Column, n: Int, k: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Long = 0L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    val refBanded = scope.cache(
      capBuckets(bandSignatures(refSigs, idCol, k, rowsPerBand),
        Seq("band", "bkey"), maxBucket, scope)
        .join(refSigs.select(col(idCol), col("sig").as("__rsig")), Seq(idCol))
        .select(col("band"), col("bkey"), col("__rsig")))
    val signable = coalesce(size(split(text, " ")) >= n, lit(false))
    val sigd = (0 until nBands).foldLeft(
      incoming.filter(signable)
        .withColumn("__sig",
          graft.functions.MinHashSigFn(graft.functions.ShingleHashesFn(text, n), k))) {
      (df, b) =>
        df.withColumn(s"__bk$b", concat_ws(",", (0 until rowsPerBand).map(r =>
          col("__sig").getItem(b * rowsPerBand + r).cast("string")): _*))
    }
    val survivors = (0 until nBands).foldLeft(sigd) { (df, b) =>
      val refB = refBanded.filter(col("band") === b)
        .select(col("bkey").as(s"__rbk$b"), col("__rsig").as(s"__rs$b"))
      df.join(refB,
        col(s"__bk$b") === col(s"__rbk$b") &&
          aggregate(zip_with(col("__sig"), col(s"__rs$b"),
            (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _)
            .cast("double") / k >= threshold,
        "left_anti")
    }
    survivors.drop("__sig" +: (0 until nBands).map(b => s"__bk$b"): _*)
      .unionByName(incoming.filter(!signable))
  }

  /** Exact Jaccard over distinct word n-gram shingles for given candidate
    * pairs, via the inverted index (explode + equi-join on shingle), with
    * a document-frequency cap: shingles appearing in more than `maxDf`
    * docs are dropped from the index (a hot shingle contributes O(df²)
    * pairs — the cap bounds skew at scale; its effect on the Jaccard
    * estimate is logged by callers). Returns a, b, jaccard. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, text: Column, n: Int,
      threshold: Double, maxDf: Long,
      scope: CacheScope = CacheScope.session): DataFrame = {
    // The df-capped inverted index is built ONCE and persisted through
    // the caller's CacheScope: both sides of the pair self-join scan it,
    // and scope.cache materializes it in one pass before they fan out
    // (otherwise they race to compute the same partitions — duplicate
    // shingling + block-manager contention; the executor logs "Block
    // already exists" and wall-clock spikes 3-4x). Block lifetime is the
    // scope's; size is bounded by the exploded index (rows × distinct
    // shingles).
    // Index key = 60-bit hash of the shingle, not the string: the joins
    // shuffle 8-byte longs instead of ~20-byte strings, and the oracle
    // mirrors the same md5-based hash so collisions (≈n²/2^60) are
    // identical on both engines.
    // explode_outer + isnotnull for the same InferFiltersFromGenerate
    // reason as in minHashSignatures (single evaluation of the shingle
    // expression, above the scatter exchange).
    // df-cap: a count over the shingle's window rides the index's one
    // shuffle on the shingle hash — no separate aggregate-and-join-back
    // pass over the index — and leaves the cached index partitioned and
    // sorted by that hash, the layout the self-join reads it in.
    import org.apache.spark.sql.expressions.Window
    val capped = scope.cache(df.select(col(idCol).as("id"),
        graft.functions.ShingleHashesFn(text, n).as("__shs"))
      .withColumn("nsh", size(col("__shs")))
      .select(col("id"), col("nsh"), explode_outer(col("__shs")).as("sh"))
      .filter(col("sh").isNotNull)
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("__df") <= maxDf)
      .select(col("sh"), col("id"), col("nsh")))
    val l = capped.select(col("sh"), col("id").as("a"), col("nsh").as("na"))
    val r = capped.select(col("sh"), col("id").as("b"), col("nsh").as("nb"))
    // length-ratio prune (lossless): J(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    // so a pair whose shingle counts differ by more than the threshold
    // ratio can never qualify — drop it before the per-pair aggregation
    // instead of after (at scale this is most of the candidate volume)
    l.join(r, Seq("sh")).filter(col("a") < col("b"))
      .filter(col("na") >= col("nb") * threshold && col("nb") >= col("na") * threshold)
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** MinHash-LSH banding quality report — precision/recall of
    * [[lshCandidates]] against the exact n-gram Jaccard ground truth
    * ([[ngramJaccardPairs]]) at `threshold`, in integer basis points:
    * the text-side twin of [[Similarity.annRecall]]. Banding parameters
    * (k, rowsPerBand) fix an S-curve; where the corpus's similarity
    * mass actually sits relative to that curve is a DATA property — so
    * recall is measured as a pipeline step before anyone trusts the
    * banded dedup at scale, and precision says how much exact-verify
    * work each candidate costs.
    *
    * One full-outer join of the two pair sets on (a, b) + a single-row
    * aggregate; both pair builds are the bucketed/capped shapes of the
    * operators under evaluation (the eval inherits their scale
    * discipline — and their caps: a `maxBucket`-dropped bucket costs
    * recall HERE TOO, which is exactly what the report is for).
    * Output (one row): n_candidates, n_true, n_hit, precision_bp,
    * recall_bp (−1 when the denominator is empty). */
  def minhashEval(df: DataFrame, idCol: String, text: Column, n: Int,
      k: Int, rowsPerBand: Int, maxBucket: Long, threshold: Double,
      maxDf: Long, scope: CacheScope = CacheScope.session): DataFrame = {
    val sigs = scope.cache(minHashSignatures(df, idCol, text, n, k))
    val cand = lshCandidates(sigs, idCol, k, rowsPerBand, maxBucket, scope)
      .withColumn("__c", lit(1L))
    val truth = ngramJaccardPairs(df, idCol, text, n, threshold, maxDf, scope)
      .select(col("a"), col("b"), lit(1L).as("__t"))
    cand.join(truth, Seq("a", "b"), "full_outer")
      .agg(coalesce(sum(coalesce(col("__c"), lit(0L))), lit(0L))
          .as("n_candidates"),
        coalesce(sum(coalesce(col("__t"), lit(0L))), lit(0L)).as("n_true"),
        coalesce(sum(coalesce(col("__c"), lit(0L)) *
          coalesce(col("__t"), lit(0L))), lit(0L)).as("n_hit"))
      .select(col("n_candidates"), col("n_true"), col("n_hit"),
        expr("CASE WHEN n_candidates > 0 THEN (n_hit * 10000) div n_candidates ELSE -1 END")
          .cast("long").as("precision_bp"),
        expr("CASE WHEN n_true > 0 THEN (n_hit * 10000) div n_true ELSE -1 END")
          .cast("long").as("recall_bp"))
  }

  /** Cross-source overlap matrix — corpus-level contamination/diversity
    * analytics: for every unordered pair of sources, the number of
    * shared distinct word n-gram shingles and the shingle-set Jaccard.
    * The "how much of source B is already in source A" report that
    * decides whether a new crawl slice is worth ingesting (high overlap
    * ⇒ mostly re-crawl) — [[ngramJaccardPairs]]' measure lifted from
    * doc × doc to source × source, where the output is sources²-sized
    * and exact computation is affordable.
    *
    * Scale shape: one codegen shingle scan + hash-distinct to (source,
    * shingle-hash) — the only corpus-sized exchange, carrying 8-byte
    * hashes; the pair build self-joins KEYED ON THE HASH, per-key
    * fanout bounded by the source count (a boilerplate shingle present
    * in all S sources contributes S²/2 rows — fine for the tens-to-
    * hundreds of sources this is for; the join never touches doc
    * counts); per-source set sizes join back broadcast. Output:
    * source_a, source_b (binary string order), n_a, n_b, n_common,
    * jaccard (6 dp). */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String, text: Column,
      n: Int, scope: CacheScope = CacheScope.session): DataFrame = {
    val sh = scope.cache(df
      .select(col(groupCol).as("__g"),
        explode(graft.functions.ShingleHashesFn(text, n)).as("__h"))
      .distinct())
    val sizes = sh.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val pairs = sh
      .join(sh.select(col("__g").as("__gb"), col("__h")), Seq("__h"))
      .filter(col("__g") < col("__gb"))
      .groupBy(col("__g").as("source_a"), col("__gb").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("__g").as("source_a"),
        col("__n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("__g").as("source_b"),
        col("__n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Winnowed fingerprints per document (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003): the distinct k-gram hashes minimal in at least one
    * window of `w` consecutive gram positions — guaranteed to catch any
    * shared span of ≥ k + w − 1 words while keeping only ~2/(w+1) of
    * the grams, the position-robust fingerprint MOSS-style overlap
    * detection is built on. One narrow codegen pass
    * ([[graft.functions.WinnowHashes]]: gram hashing + monotone-deque
    * window minima + distinct, all inside the scan) then one explode —
    * the corpus never carries the full gram sequence through an
    * exchange. Output: idCol, `fp` (long), `nfp` (the doc's fingerprint
    * count, on every row for downstream normalization). Docs with
    * fewer than k words are absent. */
  def winnowedFingerprints(df: DataFrame, idCol: String, text: Column,
      k: Int, w: Int): DataFrame =
    df.filter(size(split(text, " ")) >= k)
      .select(col(idCol), graft.functions.WinnowHashesFn(text, k, w).as("__fps"))
      .withColumn("nfp", size(col("__fps")).cast("long"))
      .select(col(idCol), col("nfp"), explode_outer(col("__fps")).as("fp"))
      .filter(col("fp").isNotNull)

  /** Winnowed-fingerprint overlap pairs: documents sharing at least
    * `minShared` winnowed fingerprints, via the [[ngramJaccardPairs]]
    * inverted-index shape (explode → df-cap → equi-join on the
    * fingerprint) — but over the winnowed ~2/(w+1) subset, so index
    * size, shuffle volume, and the O(df²) hot-key term all shrink by
    * the winnowing factor before the cap even applies. `overlap` =
    * shared / min(nfp_a, nfp_b) at 6 dp (containment-style: a short
    * document fully embedded in a long one scores 1.0 — the plagiarism
    * / contamination question, where Jaccard would dilute it).
    * Fingerprints in more than `maxDf` docs are dropped from the index
    * (the ngram cap argument; boilerplate fingerprints are exactly the
    * hot keys). Returns a, b, shared, overlap. */
  def winnowedOverlapPairs(df: DataFrame, idCol: String, text: Column,
      k: Int, w: Int, minShared: Long, maxDf: Long,
      scope: CacheScope = CacheScope.session): DataFrame = {
    require(minShared >= 1, s"minShared >= 1, got $minShared")
    // cached for the same three-consumer fan-out as the ngram index
    val fps = scope.cache(winnowedFingerprints(df, idCol, text, k, w)
      .select(col(idCol).as("id"), col("nfp"), col("fp")))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val capped = fps.join(rare, "fp")
    val l = capped.select(col("fp"), col("id").as("a"), col("nfp").as("na"))
    val r = capped.select(col("fp"), col("id").as("b"), col("nfp").as("nb"))
    l.join(r, Seq("fp")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .withColumn("overlap",
        round(col("shared").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6))
      .select("a", "b", "shared", "overlap")
  }

  /** Threshold-tuning sweep over candidate-pair similarities — "how
    * many pairs would each dedup threshold catch?", the calibration
    * pass a pipeline runs BEFORE committing to a near-dup threshold:
    * a `bins`-sized histogram of the pair scores plus, per bin, the
    * DESCENDING cumulative pair count (pairs scoring at or above the
    * bin's floor — the drop volume of a threshold set there). A score
    * equal to the top edge lands in the last bin.
    *
    * Scale shape: the pair scores partially aggregate into ≤ `bins`
    * rows; the cumulative window then runs over that BINS-sized table
    * — the single-partition global window the house rule bans is fine
    * here because the corpus never reaches it. Output: bin, bin_lo,
    * n_pairs, n_pairs_ge. */
  def thresholdSweep(pairs: DataFrame, simCol: String,
      bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 100000, s"need 1 <= bins <= 1e5, got $bins")
    import org.apache.spark.sql.expressions.Window
    val idx = least(floor(col(simCol) * bins).cast("long"), lit(bins - 1L))
    pairs.filter(col(simCol).isNotNull)
      .groupBy(idx.as("bin")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_pairs_ge",
        sum(col("n_pairs")).over(Window.orderBy(col("bin").desc)))
      .select(col("bin"),
        round(col("bin").cast("double") / lit(bins.toDouble), 6).as("bin_lo"),
        col("n_pairs"), col("n_pairs_ge"))
  }

  /** Time-horizon repeat suppression — the re-crawl guard: a row whose
    * key was already seen within the trailing `horizonUs` is a repeat
    * and drops; a recurrence AFTER the horizon survives (it is a fresh
    * observation worth keeping — the difference from [[keepFirst]]'s
    * forever-dedup). "Within" CHAINS off the previous observation
    * (survivor or not): a run of repeats at `horizon − ε` spacing is
    * ONE burst keeping only its first row, and a new burst starts only
    * after a full quiet horizon with no sightings at all —
    * [[graft.ops.Events.sessionize]]'s gap rule applied to dedup
    * (the quiet-period contract a crawler wants: constant re-sighting
    * means the page is still live, not newly changed). Same
    * one-key-shuffle lag + running burst index, then each burst's
    * first row by the (ts, order) total order. Output: `df`'s
    * surviving rows. */
  def dropRepeatsWithin(df: DataFrame, keyCol: String, tsUsCol: String,
      orderCol: String, horizonUs: Long): DataFrame = {
    require(horizonUs > 0, s"horizonUs > 0, got $horizonUs")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(orderCol))
    val newBurst = when(
      col(tsUsCol) - lag(col(tsUsCol), 1).over(w) <= horizonUs, 0L)
      .otherwise(1L) // first row per key: lag null -> new burst
    df.withColumn("__burst",
        sum(newBurst).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol), col("__burst"))
          .orderBy(col(tsUsCol), col(orderCol))))
      .filter(col("__rn") === 1)
      .drop("__burst", "__rn")
  }

  /** Snapshot diff: what changed between two corpus drops — the
    * incremental-crawl bookkeeping every recurring ingest runs before
    * deciding what to re-process. Keyed full outer join on the id,
    * content compared by full-128-bit md5 (the [[exactNormalized]]
    * exactness argument: a 60-bit birthday collision would silently
    * mark a changed document unchanged), emitting one row per doc in
    * `added` / `removed` / `changed` status — UNCHANGED docs are
    * dropped, because at 100 TB the point of a diff is that its output
    * is delta-sized, not corpus-sized (the unchanged count is one
    * aggregate away for anyone who wants it). One hash-shuffle join on
    * the id; the texts never move, only their hashes. Output: idCol,
    * status. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      text: Column): DataFrame = {
    val o = oldDf.select(col(idCol), md5(text).as("__ho"))
    val n = newDf.select(col(idCol), md5(text).as("__hn"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") =!= col("__hn"), "changed"))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** 32-bit SimHash signature per doc: for each bit j, the sign of the
    * sum over tokens of (2*bit_j(hash(token)) − 1). Output: id, simhash
    * (long, 32 bits). One narrow codegen pass ([[graft.functions.SimHash]])
    * — no token explode and no shuffle; the original explode + 32-sum
    * hash aggregate pushed one row per TOKEN through an exchange just to
    * collapse it back to one row per doc. Docs with null text are absent,
    * as they were from the exploded form. */
  def simHashSignatures(df: DataFrame, idCol: String, text: Column, bits: Int = 32): DataFrame =
    df.select(col(idCol), graft.functions.SimHashFn(text, bits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs: candidates share the high or the low half of
    * the signature (2-band LSH — a pair within Hamming distance maxHamming
    * over 32 bits collides on one exact half with high probability when
    * maxHamming is small); verified with `bit_count(xor) <= maxHamming`.
    * Returns a, b, hamming. */
  def simHashPairs(sigs: DataFrame, idCol: String, bits: Int, maxHamming: Int,
      maxBucket: Long = 0L, scope: CacheScope = CacheScope.session): DataFrame = {
    val half = bits / 2
    val banded = capBuckets(sigs.select(
      col(idCol),
      explode(array(
        struct(lit(0).as("band"), shiftright(col("simhash"), half).as("bkey")),
        struct(lit(1).as("band"),
          col("simhash").bitwiseAND(lit((1L << half) - 1)).as("bkey")))).as("bk"),
      col("simhash"))
      .select(col(idCol), col("bk.band"), col("bk.bkey"), col("simhash")),
      Seq("band", "bkey"), maxBucket, scope)
    val l = banded.select(col("band"), col("bkey"), col(idCol).as("a"), col("simhash").as("ha"))
    val r = banded.select(col("band"), col("bkey"), col(idCol).as("b"), col("simhash").as("hb"))
    l.join(r, Seq("band", "bkey")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise matches into DEDUP GROUPS (a≈b and b≈c must collapse to one
    * cluster even when a≉c directly; pairs alone over-keep). Iterative
    * min-label propagation: every vertex starts labeled with its own id,
    * and each round adopts the minimum label among itself and its
    * neighbors, until a fixpoint — the converged label is the minimum id
    * reachable in the component, so the label IS the canonical
    * representative.
    *
    * Scale shape: each round is one equi-join of the symmetrized view of
    * the persisted-once pair list against the current labels plus a
    * min-aggregate — all hash shuffles on vertex id, no collect.
    * Convergence is detected by the label SUM staying unchanged: labels
    * only ever decrease, so an unchanged sum means no vertex moved
    * (decimal(38,0) so billions of 64-bit ids cannot overflow the sum).
    * The sum is not a separate action: an `Observation` rides each
    * round's `localCheckpoint`, so the checkpoint's own job reports it.
    * Its `CollectMetrics` node sits above the round's min-aggregate, in
    * the result stage, where Spark counts each task's accumulator once
    * even under task retry (a map-stage placement could double count).
    * Near-dup components are small dense cliques (diameter 1-2), so
    * this converges in 2-3 rounds of plain propagation. For adversarial
    * CHAIN graphs (boilerplate edited a little at a time — a≈b≈c≈…
    * across thousands of docs), plain propagation is rounds =
    * diameter; from round 3 on, each round also propagates over the
    * label edges of the last two label generations (each (v, l(v))
    * pointer as an undirected extra edge — subsumes the pointer jump
    * l(v) := l(l(v)), adds the backward push a jump alone lacks on
    * chains whose ids descend toward the minimum, and the previous
    * generation keeps the hub hand-off edge alive for the round where
    * a vertex's label just improved), collapsing rounds to
    * ~O(log diameter): a diameter-999 chain converges in 13 rounds in
    * EVERY id orientation (head-min, tail-min, mid-min — each pinned
    * by test) instead of tripping `maxIter`. Label edges never bridge
    * components (a label is always a same-component vertex id), so the
    * fixpoint is unchanged.
    * Shallow corpora never reach round 3, so their per-round plan
    * stays one join + one aggregate. Both directions of every pair come
    * from ONE scan of the persisted pair list (a two-element explode),
    * and the first checkpoint materializes that list, so a shallow
    * graph runs one action per checkpoint plus the caller's.
    * Each round's labels are `localCheckpoint`ed: `persist`
    * caches DATA but keeps the logical plan, and the label plan
    * references itself twice per round — the plan tree doubles every
    * iteration and planning/explain work goes exponential (a diameter-15
    * graph OOMs on plan strings alone). The eager checkpoint cuts
    * lineage to the materialized blocks; on a cluster where executor
    * loss must be survivable, `spark.checkpoint` to reliable storage is
    * the durable variant. Throws if `maxIter` rounds don't converge —
    * silently wrong clusters must never ship.
    *
    * @param pairs    edge list with columns `a`, `b` (undirected)
    * @param vertices one column `idCol`; vertices absent from any pair
    *                 form singleton clusters
    * @param maxIter  bound on LOOP rounds — since r20 the first
    *                 propagation round is fused into label init, so the
    *                 total propagation budget is `maxIter + 1` rounds
    *                 and the round-3 label-edge acceleration engages one
    *                 propagation round later than the pre-fusion count
    *                 (the maxIter=1 non-convergence contract now means
    *                 "throws if 2 total rounds don't converge")
    * @return (idCol, cluster) — cluster = min id in the component */
  def connectedComponents(pairs: DataFrame, vertices: DataFrame, idCol: String,
      maxIter: Int = 25): DataFrame = {
    // persist the PAIR LIST, not the symmetrized view: every propagation
    // round would otherwise recompute the caller's full pair pipeline —
    // for near-dup input that is the whole LSH/index join, the most
    // expensive thing in sight. The first checkpoint below materializes
    // it (one scan per plan, so nothing races to build the same blocks).
    val p = pairs.select(col("a"), col("b")).persist()
    val sym = p.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    // checkpoint a label table and read its label sum and row count off
    // the checkpoint's own job
    def checkpoint(df: DataFrame): (DataFrame, java.math.BigDecimal, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val cp = df.observe(obs,
          coalesce(sum(col("cluster").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .localCheckpoint() // eager: materializes AND truncates lineage
      val m = obs.get
      (cp, m("s").asInstanceOf[java.math.BigDecimal],
        m("n").asInstanceOf[Long])
    }
    // propagate over the EDGE-TOUCHED subgraph only: in a near-dup
    // workload almost every document is in no pair at all, so the label
    // table each round shrinks from |V| to |V_with_edges|; singletons
    // rejoin as identity at the end. The FIRST propagation round is
    // fused into initialization (r20): min(self, neighbors) is one
    // aggregate straight off the symmetrized edge list — the identity
    // init plus round-1 join it replaces cost a full
    // join + checkpoint + convergence-sum cycle, and near-dup cliques
    // converge in 1-2 rounds so one round is a third of the loop
    val (init, initSum, touched) = checkpoint(sym
      .select(col("src").as(idCol), least(col("src"), col("dst")).as("cluster"))
      .groupBy(col(idCol)).agg(min(col("cluster")).as("cluster")))
    if (touched == 0) { // no edges: every vertex is its own cluster
      p.unpersist()
      return vertices.select(col(idCol), col(idCol).as("cluster"))
    }
    var labels = init
    var prevLabels = labels // previous generation, for label-edge hand-off
    var prevSum = initSum
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // one round = one equi-join + one min-aggregate: each vertex takes
      // the smallest label among its neighbors. Its own label needs no
      // leg of its own, because some neighbor always holds a label no
      // larger: a vertex labeled with its own id
      // v has only neighbors labeled <= v; a label taken from a pair
      // neighbor stays with that neighbor or shrinks there; and a label
      // l taken over a label edge comes back over the pointer edge from
      // vertex l, whose label is at most l. So every round computes
      // exactly min(own, neighbors).
      // label-edge augmentation from round 3 on: plain propagation moves
      // a label ONE hop per round, so a duplicate CHAIN of diameter d
      // costs d rounds of full-edge joins (and trips maxIter past 25).
      // Treating each (v, l(v)) pointer as an UNDIRECTED extra edge
      // gives both accelerating moves at once: the (l(v) → v) direction
      // is the pointer jump l(v) := l(l(v)) (label-tree height halves
      // per round), and the (v → l(v)) direction is the backward push
      // a one-directional jump lacks — without it, a chain whose ids
      // DESCEND toward the minimum builds all its pointers away from it
      // and the jump accelerates nothing (rounds stay linear; the
      // deep-chain test's tail-min and mid-min orientations pin this).
      // Labels always name a vertex of the same component, so the extra
      // edges never bridge components — the fixpoint is untouched, only
      // reached in rounds empirically ~O(log d) on every orientation.
      // Shallow corpora (stars/pairs — the near-dup common case, and
      // everything the 1x/10x/30x probes measured) converge in 2 rounds
      // and never reach round 3, keeping their per-round plan exactly
      // the one-join-one-agg shape.
      // ... from the last TWO label generations: a vertex that just
      // learned a smaller label LOSES its pointer edge to its old hub in
      // the same round — with only current-generation edges the hub
      // never hears the news and the frontier crawls one chain hop per
      // round again. The previous generation's edge survives exactly
      // long enough to hand the new minimum to the hub, which then
      // broadcasts it to everything still pointing at it.
      val edges =
        if (iter < 2) sym
        else {
          def lsym(df: DataFrame) = df.filter(col(idCol) =!= col("cluster"))
            .select(col(idCol).as("src"), col("cluster").as("dst"))
          val le = lsym(labels).union(lsym(prevLabels))
          sym.union(le)
            .union(le.select(col("dst").as("src"), col("src").as("dst")))
        }
      val fromNbrs = edges
        .join(labels.select(col(idCol).as("src"), col("cluster")), "src")
        .select(col("dst").as(idCol), col("cluster"))
      val (next, curSum, _) = checkpoint(fromNbrs
        .groupBy(col(idCol)).agg(min(col("cluster")).as("cluster")))
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      prevLabels = labels
      labels = next
      iter += 1
    }
    p.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(with label-edge propagation from round 3, the reachable " +
          "diameter is ~2^(maxIter-2) — non-convergence at the default " +
          "bound means something is wrong with the input, not just deep)")
    vertices.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("cluster"))
  }

  /** Incremental connected components — fold a NEW batch's pairs into a
    * STANDING labeling without re-clustering the corpus: the missing
    * merge half of the incremental-dedup family ([[minhashMatchedAgainst]]
    * / [[cosineMatchedAgainst]] find the new pairs; this folds them in).
    * At 100 TB a full [[connectedComponents]] re-run per ingest batch
    * re-shuffles every vertex every day; here the iterative work runs on
    * the COMPONENT graph touched by the batch — pairs-sized, not
    * corpus-sized.
    *
    * Exactness (not an approximation): components of (old pairs ∪ new
    * pairs) are exactly the old components unioned along new edges, so
    * mapping each new pair's endpoints to their standing labels (an
    * absent endpoint is its own label — new vertices and old
    * singletons), running CC over THAT graph, and relabeling through
    * the merge map reproduces the full recompute bit for bit — because
    * every standing label is already the MIN id of its old component,
    * the merged min-of-labels IS the global min id. The q157 oracle
    * pins this: the incremental plan against the full-recompute SQL,
    * same rows.
    *
    * Contract: `oldLabels` (idCol, cluster) must BE a
    * [[connectedComponents]] output over the old pair set (labels =
    * min member id — `require`-checked only in spirit; a violated
    * contract surfaces as a changed oracle hash, not silently).
    * `newVertices` = the batch's ids (old ids need not be repeated;
    * an id appearing ONLY as a `newPairs` endpoint is covered too —
    * endpoints are unioned into the output vertex set, so a caller
    * who forgets to list a paired vertex still gets its row back).
    * Scale shape: two label-lookup equi-joins on the pair endpoints,
    * the iterative CC over the touched-label graph (edges = batch
    * pairs, label-edge acceleration as in [[connectedComponents]]),
    * and one broadcast-sized relabel join back onto the standing
    * labeling (touched components only; untouched rows pass through
    * unchanged via the coalesce). Output: (idCol, cluster) over old ∪
    * new vertices. */
  def connectedComponentsIncremental(oldLabels: DataFrame,
      newPairs: DataFrame, newVertices: DataFrame, idCol: String,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val lbl = scope.cache(oldLabels.select(col(idCol), col("cluster")))
    // endpoints → standing labels (own id when unseen)
    val e = scope.cache(newPairs
      .join(lbl.select(col(idCol).as("a"), col("cluster").as("__la")),
        Seq("a"), "left")
      .join(lbl.select(col(idCol).as("b"), col("cluster").as("__lb")),
        Seq("b"), "left")
      .select(coalesce(col("__la"), col("a")).as("a"),
        coalesce(col("__lb"), col("b")).as("b"))
      .filter(col("a") =!= col("b")))
    // CC over the touched-label graph only — pairs-sized
    val touched = e.select(col("a").as(idCol))
      .unionByName(e.select(col("b").as(idCol))).distinct()
    val merged = connectedComponents(e, touched, idCol)
      .select(col(idCol).as("__l0"), col("cluster").as("__lm"))
    // vertex closure: declared batch ids ∪ raw pair endpoints — an id
    // appearing only as an endpoint participates in the merge graph
    // (it can relabel others), so it must appear in the output too,
    // not silently vanish (its standing label = its own id)
    val allV = lbl.select(col(idCol), col("cluster"))
      .unionByName(newVertices.select(col(idCol))
        .unionByName(newPairs.select(col("a").as(idCol)))
        .unionByName(newPairs.select(col("b").as(idCol)))
        .distinct()
        .join(lbl.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), col(idCol).as("cluster")))
    allV
      .join(merged, allV("cluster") === merged("__l0"), "left")
      .select(col(idCol), coalesce(col("__lm"), col("cluster")).as("cluster"))
  }

  /** The consumer half of near-dup clustering: keep exactly one document
    * per [[connectedComponents]] cluster (its minimum id) and drop the
    * rest — [[dropNormalizedDups]]' analogue for transitive near-dup
    * groups. A doc in no pair keeps itself. One semi-join on the id. */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val keep = connectedComponents(pairs, df.select(col(idCol)), idCol)
      .filter(col("cluster") === col(idCol)).select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Embedding cosine near-dup pairs, LSH-bucketed: bucket key = sign bits
    * of the first `signBits` dimensions (deterministic hyperplanes = the
    * coordinate axes). Pairs are generated only within a bucket — at scale
    * each bucket is a tiny fraction of the corpus — then verified with
    * exact cosine ≥ threshold. Returns a, b, cos. */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vec: Column,
      signBits: Int, threshold: Double, maxBucket: Long = 0L,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val b = capBuckets(df.select(col(idCol), vec.as("v"),
      Similarity.signBucket(vec, signBits).as("__bkt")),
      Seq("__bkt"), maxBucket, scope)
    val l = b.select(col("__bkt"), col(idCol).as("a"), col("v").as("va"))
    val r = b.select(col("__bkt"), col(idCol).as("b"), col("v").as("vb"))
    l.join(r, Seq("__bkt")).filter(col("a") < col("b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** [[dropNearDups]] with a QUALITY keeper instead of the min-id
    * keeper: within each connected near-dup cluster, survive the member
    * with the highest `scoreCol` (ties to the lowest id) — "keep the
    * longest/highest-quality copy", the rule real pipelines want once a
    * quality signal exists (the min-id keeper is only canonical, not
    * best). Same CC machinery and cost as [[dropNearDups]]; the keeper
    * election is the bounded-heap [[Rank.topNPerGroup]] at n = 1 (k = 1
    * state per cluster per task, no window sort), then one semi-join.
    * `idCol` must be integral (the argmax payload), `scoreCol` numeric;
    * a null score excludes the row from election and therefore from
    * survival — even a singleton cluster whose only member has a null
    * score elects no keeper and is dropped. Score your rows first. */
  def dropNearDupsKeeping(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val cc = connectedComponents(pairs, df.select(col(idCol)), idCol)
    val keep = Rank.topNPerGroup(
      df.select(col(idCol), col(scoreCol)).join(cc, Seq(idCol)),
      Seq("cluster"), idCol, scoreCol, n = 1)
      .select(col("id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Embedding-side incremental dedup — [[minhashMatchedAgainst]]'s
    * vector twin ("drop this week's vectors that duplicate the standing
    * index"): incoming ids whose EXACT cosine to at least one reference
    * vector in the same sign-bucket cell reaches `threshold`. Both sides
    * bucket on the same deterministic hyperplanes
    * ([[Similarity.signBucket]]) and are capped independently at
    * `maxBucket` (per-cell fan-out bound maxBucket², the
    * [[lshCandidatesAgainst]] contract); no within-side pairs exist, so
    * the standing index's pair work is never re-paid at ingest — its
    * bucketed table persists and only the (tiny) batch's cells join in.
    *
    * Recall: at `probes = 1` a near-dup whose vector crosses one
    * hyperplane is invisible (the [[cosineNearDupPairs]] caveat). At
    * `probes > 1` the REFERENCE side registers each vector under its
    * [[Similarity.probeCells]] — own cell plus flips of its `probes−1`
    * least-confident sign dimensions — so a pair whose cells differ by
    * one of those bits is caught while the incoming side still carries
    * exactly ONE cell key per row: registration-side multi-probe. The
    * index pays `probes×` registration ONCE; every future ingest batch
    * probes it with the same plain equi-join. `maxBucket` caps
    * REGISTERED occupancy per cell on each side independently (an
    * expanded reference cell counts its extra registrations). Returns
    * one `idCol` row per matched incoming vector — feed to
    * [[dropNearDupsAgainst]] (reference members are kept by definition,
    * so dropping every matched incoming row is the transitive-safe
    * rule, no connected-components step). */
  def cosineMatchedAgainst(inc: DataFrame, ref: DataFrame, idCol: String,
      vec: Column, signBits: Int, threshold: Double, maxBucket: Long = 0L,
      probes: Int = 1, scope: CacheScope = CacheScope.session): DataFrame = {
    def side(df: DataFrame, cells: Column) = capBuckets(
      df.filter(vec.isNotNull).select(col(idCol), vec.as("__v"),
        explode(cells).as("__bkt")),
      Seq("__bkt"), maxBucket, scope)
    side(inc, array(Similarity.signBucket(vec, signBits)))
      .select(col("__bkt"), col(idCol).as("a"), col("__v").as("va"))
      .join(side(ref, Similarity.probeCells(vec, signBits, probes))
        .select(col("__bkt"), col(idCol).as("b"), col("__v").as("vb")),
        Seq("__bkt"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("a").as(idCol)).distinct()
  }

  /** The STREAM-SAFE form of embedding-side incremental dedup —
    * [[dropNearDupsAgainstLive]]'s vector twin: incoming vectors sign-
    * bucket by a projection and ONE stream–static LEFT ANTI equi-join
    * (cell = cell, with the exact 6-dp cosine cut inside the join
    * condition) drops every incoming vector with a qualifying same-cell
    * reference neighbor — stateless end-to-end, so it runs at ingest on
    * a live `readStream` with no state store or watermark. The static
    * index is bucketed + capped once ([[capBuckets]]); the STREAM side
    * cannot be occupancy-capped (that would need an aggregation), which
    * is the one contract difference from [[cosineMatchedAgainst]] —
    * a degenerate incoming cell merely probes a cell the static side
    * already dropped, so the per-row probe cost stays ≤ maxBucket
    * comparisons. `probes > 1` raises single-bit-miss recall WITHOUT
    * touching the stream side: the static index registers each vector
    * under its [[Similarity.probeCells]] (registration-side
    * multi-probe — the [[cosineMatchedAgainst]] contract), and the
    * live plan stays the same one stateless anti-join on one cell key.
    * Null-vector rows bypass the join and survive. Works identically
    * on a batch `incoming` (same plan, same rows). Returns
    * `incoming`'s columns, survivors only. */
  def cosineDropAgainstLive(incoming: DataFrame, ref: DataFrame,
      idCol: String, vec: Column, signBits: Int, threshold: Double,
      maxBucket: Long = 0L, probes: Int = 1,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val refCells = scope.cache(
      capBuckets(ref.filter(vec.isNotNull).select(col(idCol), vec.as("__rv"),
        explode(Similarity.probeCells(vec, signBits, probes)).as("__bkt")),
        Seq("__bkt"), maxBucket, scope)
        .select(col("__bkt").as("__rbkt"), col("__rv")))
    incoming.filter(vec.isNotNull)
      .withColumn("__bkt", Similarity.signBucket(vec, signBits))
      .join(refCells,
        col("__bkt") === col("__rbkt") &&
          Similarity.cosine(vec, col("__rv")) >= threshold,
        "left_anti")
      .drop("__bkt")
      .unionByName(incoming.filter(vec.isNull))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster
    * the embedding space, keep one representative per semantic cluster,
    * drop members too close to it). Clusters here are the deterministic
    * sign-bit LSH cells ([[Similarity.signBucket]]) rather than k-means —
    * no iterative fitting, no model state, and the cell assignment is a
    * pure projection, which is what makes the operator a single-pass
    * pipeline stage at 100 TB. Within each cell:
    *
    *  1. vectors are int8-quantized ([[Similarity.quantizeInt8]]) so all
    *     cross-row math is EXACT integer arithmetic — the cell centroid
    *     is the un-normalized component sum (cosine is scale-invariant,
    *     so the division by |cell| is dropped rather than rounded), and
    *     summation order cannot perturb it;
    *  2. the representative is the member most cosine-similar to the
    *     centroid (score `dot/√normsq`: exact integer dot and norm,
    *     one IEEE-correctly-rounded sqrt + divide, ties to the lowest
    *     id) — elected via the bounded-heap argmax, k=1 state per cell
    *     per task, no sort;
    *  3. members whose int8 cosine to the representative (codegen
    *     [[graft.functions.Int8Cos]], 6-dp) reaches `threshold` are
    *     dropped; the representative itself, zero-norm members (cosine
    *     undefined — kept by convention), and far members survive.
    *
    * Cells larger than `maxBucket` are NOT deduplicated: a degenerate
    * sign cell (all-equal leading signs — e.g. non-negative feature
    * embeddings) is a region where one representative is meaningless,
    * and electing it would put the whole cell behind one reducer. Those
    * rows pass through as survivors with `is_rep = false, cos_rep =
    * null` (the skew guard changes how much is DEDUPED, never what is
    * KEPT — the safe direction for a destructive operator).
    *
    * `probes > 1` closes the same-cell-only blind spot (a near-dup of
    * the representative that crossed ONE low-confidence hyperplane is
    * invisible at `probes = 1`) by REGISTRATION-side multi-probe — the
    * [[cosineMatchedAgainst]] contract transferred to the self-dedup
    * form: each cell's representative registers under its
    * [[Similarity.probeCells]] (own cell + flips of its `probes − 1`
    * least-confident sign dims), and every member still probes with its
    * ONE own cell — so the member side of the drop join never fans out,
    * and the registration side adds at most `probes` rows per CELL
    * (reps are one per cell, so the expansion is cells-sized, not
    * corpus-sized). The dedup then runs within the union:
    *  - a NON-representative is dropped when its best probed rep (max
    *    cosine, ties to the lowest rep id — `cos_rep` reports that
    *    similarity) reaches `threshold`;
    *  - a REPRESENTATIVE is dropped when a probed rep with a STRICTLY
    *    SMALLER id reaches `threshold` — the deterministic survivor
    *    rule for near-dup reps split across adjacent cells (each alone
    *    in its cell, each its own rep — invisible to the member rule).
    *    Smaller-id-wins is local, not transitive (a rep chain A~B~C
    *    with A≁C keeps only A — same approximation class as SemDeDup's
    *    own one-rep-per-cluster rule).
    * `probes = 1` is exactly the original same-cell contract: a rep
    * meets only itself (equal id — never strictly smaller), members
    * meet only their own rep.
    *
    * Scale shape: one explode keyed (cell, dim) feeding a two-level
    * partial-aggregated centroid (the exchange carries cells × dims
    * rows, not corpus × dims), centroids equi-joined back per cell, and
    * the bounded-heap election — no all-pairs work anywhere; the only
    * per-member pairwise cosine is against the single representative.
    * `idCol` must be integral (the argmax payload, as in
    * [[graft.ops.Rank.topNPerGroup]]); null vectors are excluded.
    * Output: `idCol`, bucket, is_rep, cos_rep (null for capped cells). */
  def semanticDedup(df: DataFrame, idCol: String, vec: Column,
      signBits: Int, threshold: Double, maxBucket: Long = 0L,
      probes: Int = 1,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val all = scope.cache(
      Similarity.quantizeInt8(
        df.filter(vec.isNotNull).select(col(idCol), vec.as("__v")), "__v")
        .select(col(idCol), col("__v"),
          Similarity.signBucket(col("__v"), signBits).as("__bkt"),
          col("qvec").as("__q"),
          aggregate(transform(col("qvec"),
            x => x.cast("long") * x.cast("long")),
            lit(0L), (a, x) => a + x).as("__nsq")))
    // skew guard: overfull cells pass through UNDEDUPED (see scaladoc)
    val over = all.groupBy(col("__bkt")).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > (if (maxBucket <= 0) Long.MaxValue else maxBucket))
      .select(col("__bkt"))
    val members = all.join(over, Seq("__bkt"), "left_anti")
    val capped = all.join(over, Seq("__bkt"), "left_semi")
    // integer-exact centroid: component sums per (cell, dim), partially
    // aggregated before the exchange, reassembled to one array per cell
    val centroid = members
      .select(col("__bkt"), posexplode(col("__q")))
      .groupBy(col("__bkt"), col("pos")).agg(sum(col("col")).as("__cd"))
      .groupBy(col("__bkt"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("__cd")))),
        x => x.getField("__cd")).as("__cent"))
    // scored feeds the rep election AND the probe join; rep feeds the
    // registration AND the is_rep join; cand feeds the best-rep argmax
    // AND the rep-vs-rep kill set — cache each or the centroid join /
    // election / Int8Cos probe recompute per consumer (found by bench
    // read: q64 3.2× over its r14 anchor before these three caches)
    val scored = scope.cache(members.join(centroid, Seq("__bkt"))
      .withColumn("__dot",
        aggregate(zip_with(col("__q"), col("__cent"),
          (a, c) => a.cast("long") * c), lit(0L), (a, x) => a + x))
      .withColumn("__score",
        when(col("__nsq") === 0L, lit(-1e18))
          .otherwise(col("__dot").cast("double") /
            sqrt(col("__nsq").cast("double")))))
    val rep = scope.cache(
      Rank.topNPerGroup(scored, Seq("__bkt"), idCol, "__score", n = 1)
        .select(col("__bkt"), col("id").as("__kid"))
        .join(all.select(col(idCol).cast("long").as("__kid"), col("__bkt"),
          col("__q").as("__kq"), col("__v").as("__kv")), Seq("__bkt", "__kid")))
    // registration-side multi-probe (see scaladoc): reps register under
    // their probe cells — a cells-sized expansion; members keep their
    // one own-cell key, so the drop join's probe side never fans out
    val repReg =
      if (probes <= 1) rep.select(col("__bkt"), col("__kid"), col("__kq"))
      else rep.select(col("__kid"), col("__kq"),
        explode(Similarity.probeCells(col("__kv"), signBits, probes))
          .as("__bkt"))
    val cand = scope.cache(scored.join(repReg, Seq("__bkt"))
      .withColumn("__cr", graft.functions.Int8Cos(col("__q"), col("__kq"))))
    // best probed rep per member: max cosine, ties to the lowest rep id
    // (bounded-heap argmax — k = 1 state per member per task, no sort);
    // every uncapped member meets at least its own cell's rep
    val best = Rank.topNPerGroup(cand, Seq(idCol), "__kid", "__cr", n = 1)
      .select(col(idCol), col("score").as("cos_rep"))
    // the rep-vs-rep survivor rule (see scaladoc): ids with a probed rep
    // of STRICTLY smaller id within threshold — reps-sized, not corpus
    val killedReps = cand
      .filter(col("__cr") >= threshold &&
        col("__kid") < col(idCol).cast("long"))
      .select(col(idCol)).distinct().withColumn("__killed", lit(true))
    val judged = best
      .join(all.select(col(idCol), col("__bkt"), col("__nsq")), Seq(idCol))
      .join(rep.select(col("__bkt"), col("__kid")), Seq("__bkt"))
      .join(killedReps, Seq(idCol), "left")
      .withColumn("is_rep", col(idCol).cast("long") === col("__kid"))
      .filter(col("__nsq") === 0L ||
        (col("is_rep") && !coalesce(col("__killed"), lit(false))) ||
        (!col("is_rep") && col("cos_rep") < threshold))
      .select(col(idCol), col("__bkt").as("bucket"), col("is_rep"),
        col("cos_rep"))
    judged.unionByName(capped.select(col(idCol), col("__bkt").as("bucket"),
      lit(false).as("is_rep"), lit(null).cast("double").as("cos_rep")))
  }
}

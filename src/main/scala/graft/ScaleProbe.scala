package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Dedup, Similarity}
import graft.queries.Models

/** Batch SCALE PROBE (round-12 verdict task 2): the driver fixtures stop
  * at sf0.1, so the per-round bench can never see how the expensive
  * operator families GROW — a quadratic constant can hide under a cap
  * at 5k documents. This main synthesizes a deterministic, seed-fixed
  * corpus shaped like `documents`/`embeddings`/`events` (same schemas,
  * word-count distribution, language/source mix, a 5% near-duplicate
  * rate so the LSH families have real candidate work, users ∝ scale at
  * constant events-per-user) at 1× and N× the sf0.1 row counts, runs
  * each op at both, and prints per-op wall seconds plus the 1×→N×
  * ratio and the implied scaling exponent `log_N(tN/t1)`.
  *
  * Density discipline: the probe holds CANDIDATE DENSITY constant across
  * scales — vocabulary grows ∝ cbrt(scale) so the 3-shingle document
  * frequency (and with it inverted-index bucket occupancy and the
  * `maxDf` cap's bite) stays comparable; otherwise a 10× corpus over a
  * FIXED tiny vocab drives every shingle past `maxDf` and the op
  * "speeds up" by silently discarding all its work — the exact
  * cap-masking failure the probe exists to catch. For the kNN join the
  * corpus-sensitive knob is `signBits` (bucket occupancy ∝ n/2^bits),
  * so the probe runs it BOTH ways: fixed bits (the query as registered —
  * exposes the within-bucket O(occupancy²) term) and bits grown by
  * log2(scale) (occupancy held constant — the documented 100 TB
  * operating discipline). Results are recorded per round in
  * `SCALING.md`.
  *
  * The synthetic corpus is used at BOTH scales (not the driver fixture
  * at 1×) so the ratio compares identical distributions; generation is a
  * pure function of (seed, row id) — independent of partitioning and
  * rerun — and writes ONLY under /tmp (never /root/testdata).
  *
  * One JSON line:
  * `{"metric":"scale_probe","ops":{name:{"t1":…,"t10":…,"ratio":…,
  * "exponent":…}},"scale":10,…}`. */
object ScaleProbe {

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  private val Langs = Seq("en", "de", "es", "fr", "zh")
  private val Dim = 64

  /** Version stamp of the synthetic-corpus GENERATORS above — folded
    * into every cross-run artifact path (the persisted probe model) so
    * a parquet left under /tmp by an older generator can never be
    * silently probed against a newer corpus (r19 ADVICE: the path was
    * keyed on scale alone). Bump when [[docOf]]/[[vecOf]]/[[evOf]] or
    * their constants change. */
  private val CorpusGenVersion = 1

  /** Word list for a given scale: vocabulary ∝ cbrt(scale) holds the
    * 3-shingle df distribution (shingle space ∝ vocab³) constant. */
  private def vocab(scale: Int): Int =
    math.max(24, math.round(48.0 * math.cbrt(scale.toDouble)).toInt)

  /** Deterministic per-id RNG: a fixed-seed function of the row id only,
    * so the corpus is identical under any partitioning or rerun. */
  private def rng(id: Long, salt: Long): java.util.Random =
    new java.util.Random((id * 0x9E3779B97F4A7C15L) ^ salt)

  /** Pure text of doc `id` (duplicate structure applied by [[docOf]]). */
  private def baseText(id: Long, v: Int): String = {
    val r = rng(id, 0x7e87L)
    val nWords = 10 + r.nextInt(90) // fixture: 10..99, mean ~55
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      // squared uniform ≈ zipf-ish skew, like the fixture's word mix
      sb.append("w").append((r.nextDouble() * r.nextDouble() * v).toInt)
      i += 1
    }
    sb.toString
  }

  private def docOf(id: Long, v: Int): Doc = {
    val r = rng(id, 0xd0cL)
    // every 20th doc is a light mutation of its predecessor: ~10% of
    // words replaced — a real near-duplicate for the Jaccard/MinHash/
    // SimHash families to find (the fixture corpus has the same rate)
    val text =
      if (id % 20 == 19 && id > 0) {
        val words = baseText(id - 1, v).split(" ")
        words.indices.foreach { i =>
          if (r.nextDouble() < 0.10) words(i) = "w" + r.nextInt(v)
        }
        words.mkString(" ")
      } else baseText(id, v)
    Doc(id, text, Langs(r.nextInt(Langs.size)), "src" + r.nextInt(20),
      text.length.toLong)
  }

  private[graft] def vecOf(id: Long): Vec = {
    val label = (id % 10).toInt
    val cr = rng(label.toLong, 0xce0721dL) // the label's centroid
    val centroid = Array.fill(Dim)(cr.nextGaussian().toFloat)
    val r = rng(id, 0x7ecL)
    val raw = centroid.map(c => c + 0.5f * r.nextGaussian().toFloat)
    val norm = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
    Vec(id, raw.map(_ / norm), label)
  }

  final case class Ev(event_id: Long, user_id: String, event_type: String,
      ts_us: Long, units: Long)

  private val EvTypes = Seq("view", "click", "purchase", "signup", "error")

  /** Event of row `id`: USERS grow ∝ scale while events-per-user stays
    * ~67 (the fixture's density) — the realistic 100× shape for an
    * event warehouse (more users, not deeper histories), which keeps
    * per-user window partitions CONSTANT-sized as the corpus grows;
    * the probe verifies the user-keyed exchange + sort is what scales,
    * not the per-partition work. Timestamps spread over ~30 days with
    * exponential-ish values like the fixture. */
  private def evOf(id: Long, scale: Int): Ev = {
    val r = rng(id, 0xe7e27L)
    val nUsers = 150L * scale
    Ev(id, "u" + r.nextInt(nUsers.toInt),
      EvTypes(r.nextInt(EvTypes.size)),
      math.round(r.nextDouble() * 30L * 86400L * 1000000L),
      math.round(-50.0 * math.log(1.0 - r.nextDouble())))
  }

  /** Generate + write the corpus for `scale`; returns (docs, embeddings,
    * events) read BACK from parquet so every op sees the same scan it
    * sees in production (columnar read, not an in-memory local
    * relation). */
  private[graft] def corpus(spark: SparkSession, dir: String, scale: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val v = vocab(scale)
    val nDocs = 5000L * scale
    val nVecs = 2000L * scale
    val nEvs = 10000L * scale
    val docPath = s"$dir/s$scale/documents.parquet"
    val vecPath = s"$dir/s$scale/embeddings.parquet"
    val evPath = s"$dir/s$scale/events.parquet"
    spark.range(nDocs).map(id => docOf(id, v))
      .write.mode("overwrite").parquet(docPath)
    spark.range(nVecs).map(id => vecOf(id))
      .write.mode("overwrite").parquet(vecPath)
    spark.range(nEvs).map(id => evOf(id, scale))
      .write.mode("overwrite").parquet(evPath)
    (spark.read.parquet(docPath), spark.read.parquet(vecPath),
      spark.read.parquet(evPath))
  }

  /** The persisted probe-model path — keyed on the corpus generator
    * version AND the scale (the probe corpus is a pure function of
    * both), mirroring [[graft.sources.Artifacts.tableName]]'s
    * corpus-identity discipline at /tmp-artifact granularity. */
  private def probeModelPath(scale: Int): String =
    s"/tmp/graft_probe_ivf_model/v${CorpusGenVersion}_s$scale"

  /** The ivf_model_build body, shared with the probe op's inline
    * build-when-missing: the REGISTERED geometry's fit verbatim (r19
    * seed rule — derived-count lowest FULL-corpus ids; fit on the
    * [[Models.SampleFitFraction]] hash sample) plus the cells ×
    * dims parquet write. Returns the cell count. */
  private def buildProbeIvfModel(embs: DataFrame, scale: Int): Int = {
    val sess = embs.sparkSession
    import sess.implicits._
    val n = embs.filter(col("embedding").isNotNull).count()
    val cells = math.max(2,
      math.ceil(n / Models.TargetCellOcc.toDouble).toInt)
    val all = embs.select(col("vec_id"), col("embedding"))
    val seeds = all.orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      .toSeq.sortBy(_._1)
    val cents = Similarity.kmeansFitInt8(all, "embedding", seeds,
      iters = 2, fitFraction = Models.SampleFitFraction,
      fitIdCol = "vec_id", fitSeed = "ivf")
    cents.map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "cvec")
      .write.mode("overwrite").parquet(probeModelPath(scale))
    cents.size
  }

  /** Wall-seconds of `body` (forced via count), min of `reps`, plus the
    * result row count — recorded so a flat time ratio can be told apart
    * from the cap-masking failure mode: if rows collapse at 10× the cap
    * is discarding the added work; if rows grow ∝ scale while time stays
    * flat the op is genuinely overhead-dominated at this size. */
  private def time(spark: SparkSession, reps: Int)(body: => Long): (Double, Long) = {
    var rows = 0L
    val t = (0 until reps).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      rows = body
      (System.nanoTime() - t0) / 1e9
    }.min
    (t, rows)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    val bigScale = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALE", "10").toInt
    // scale 1 would re-enter the 1× branch (clobbering cells) and make
    // the exponent log(ratio)/log(1) = NaN — reject it up front
    require(bigScale > 1,
      s"SPARK_GRAFT_PROBE_SCALE must be > 1 (got $bigScale)")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "/tmp/graft_scale_probe")
    // optional op-name filter (comma-separated): the deeper decades
    // (30×+) target the highest-exponent families only — regenerating
    // and re-running the whole suite there buys nothing
    val onlyOps = sys.env.get("SPARK_GRAFT_PROBE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val MaxBucket = 1000L // LshMaxBucket, the registered queries' cap

    // the expensive-op families, each mirroring its registered query's
    // exact parameters (q23/q24/q25/q46/q47/q53 in graft.queries)
    def ops(docs: DataFrame, embs: DataFrame, evs: DataFrame,
        scale: Int): Seq[(String, () => Long)] = Seq(
      "ngram_jaccard" -> (() => CacheScope.using { sc =>
        Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
          n = 3, threshold = 0.5, maxDf = 100, scope = sc).count()
      }),
      "minhash_lsh" -> (() => CacheScope.using { sc =>
        val sigs = sc.cache(Dedup.minHashSignatures(docs, "doc_id",
          col("text"), n = 3, k = 8))
        val cands = Dedup.lshCandidates(sigs, "doc_id", k = 8, rowsPerBand = 4,
          maxBucket = MaxBucket)
        val sa = sigs.select(col("doc_id").as("a"), col("sig").as("__sa"))
        val sb = sigs.select(col("doc_id").as("b"), col("sig").as("__sb"))
        cands.join(sa, "a").join(sb, "b")
          .withColumn("est",
            (0 until 8).map(i => when(col("__sa").getItem(i) === col("__sb").getItem(i), 1)
              .otherwise(0): Column).reduce(_ + _).cast("double") / 8.0)
          .count()
      }),
      "simhash" -> (() => CacheScope.using { sc =>
        val sigs = sc.cache(Dedup.simHashSignatures(docs, "doc_id", col("text")))
        Dedup.simHashPairs(sigs, "doc_id", bits = 32, maxHamming = 3,
          maxBucket = MaxBucket, scope = sc).count()
      }),
      // explode-once word bigrams + two doc-keyed hash aggregates
      // (q53's exact shape) — per-doc work is O(tokens), so the red
      // line is any super-linear bend from the argmax aggregation
      "repetition_bigram" -> (() =>
        graft.ops.Repetition.bigramProfile(docs, "doc_id", "text", "n_chars")
          .count()),
      // token explode + vocab agg + frequency join-back (q58's exact
      // shape) — the join keys on tokens, so the red line is the hot
      // stopword keys bending the shuffle super-linear
      "token_rarity" -> (() => CacheScope.using { sc =>
        graft.ops.TextAnalysis.tokenRarity(docs, "doc_id", col("text"),
          rareBelow = 3, scope = sc).count()
      }),
      // cached span explode + two-level DISTINCT-doc count + join-back
      // (q59's exact shape; vocab ∝ cbrt(scale) holds span df constant
      // like the 3-shingle families) — the red line is the distinct
      // aggregate's first level (span, doc) bending super-linear
      "boilerplate_spans" -> (() => CacheScope.using { sc =>
        Dedup.boilerplateSpans(docs, "doc_id", col("text"),
          spanTokens = 3, minDocs = 3, scope = sc).count()
      }),
      // fixed bits + the r18 SPLIT KNOB: the registered sign-LSH
      // geometry refused at 10x in r17 (hot bucket > 1,000 on this
      // clustered fixture — SCALING.md records the guard-fire rows);
      // with splitAbove = the guard bound, over-cap buckets split into
      // locally-fitted sub-cells and the SAME guard then audits the
      // refined keys. Full rows at 10x = the knob works; a residual
      // guard fire = genuinely unsplittable mass (exact duplicates)
      "knn_join_fixed_bits" -> (() => CacheScope.using { sc =>
        Similarity.knnJoin(embs, "vec_id", "embedding",
          k = 3, signBits = 8, probeHamming = 1, maxBucketOccupancy = MaxBucket,
          scope = sc, splitAbove = MaxBucket,
          splitTargetOcc = Models.TargetCellOcc.toLong,
          subProbes = 2).count()
      }),
      // quantized coarse + fp rerank at the same fixed bits (q62's exact
      // shape) — A/B against knn_join_fixed_bits: the int8 candidate
      // scoring should cheapen the within-bucket O(occupancy²) term that
      // dominates at 10×, at the price of two shortlist join-backs
      "knn_join_quantized" -> (() => CacheScope.using { sc =>
        Similarity.knnJoinQuantized(embs, "vec_id", "embedding",
          k = 3, signBits = 8, probeHamming = 1, coarseK = 10,
          maxBucketOccupancy = MaxBucket, scope = sc,
          splitAbove = MaxBucket,
          splitTargetOcc = Models.TargetCellOcc.toLong,
          subProbes = 2).count()
      }),
      // q46's registered shape since r16 (fitted IVF, 32 cells, nProbe
      // 4): the fit is 2 rounds × corpus × cells cosines (linear in
      // corpus at fixed cells), the candidate join scans nProbe/cells
      // of the corpus per item — the same occupancy² red line as the
      // sign-LSH family, governed by the cells knob instead of bits
      "knn_join_ivf_fitted" -> (() => CacheScope.using { sc =>
        val seeds = embs.filter(col("vec_id") < 32)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val cents = Similarity.kmeansFitInt8(
          embs.select(col("vec_id"), col("embedding")), "embedding",
          seeds, iters = 2)
        // r18 split knob: refine over-guard cells before the join (the
        // q169 shape) — fixed 32 cells at 10x put whole-corpus mass in
        // single cells, which is exactly the regime splitting serves
        val refined = Similarity.refineHotCells(embs, "vec_id",
          "embedding", cents, splitAbove = MaxBucket, targetOcc = 64L,
          iters = 1, scope = sc)
        Similarity.knnJoinIvf(embs, "vec_id", "embedding",
          k = 3, centroids = refined, nProbe = 4,
          maxCellOccupancy = MaxBucket, scope = sc).count()
      }),
      // q160's exact shape — standing-only 2-round fit + one codegen
      // assignment pass per side + cells-sized aggregates; everything
      // is linear in corpus at fixed cells (no pair join at all), so
      // the red line is any bend from the assignment's corpus × cells
      // cosine work
      "ivf_drift" -> (() => CacheScope.using { _ =>
        val standing = embs.filter(col("vec_id") % 4 =!= 0)
        val batch = embs.filter(col("vec_id") % 4 === 0)
        val seeds = standing.filter(col("vec_id") < 43)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val cents = Similarity.kmeansFitInt8(
          standing.select(col("vec_id"), col("embedding")), "embedding",
          seeds, iters = 2)
        Similarity.ivfDrift(standing, batch, "embedding", cents,
          cohesionFloorBp = 3500, growthCapBp = 5000).count()
      }),
      // the IVF deployment knobs a 100 TB corpus MUST turn (mirroring
      // knn_join_scaled_bits): cells ∝ corpus holds per-cell occupancy
      // constant (candidate pairs ∝ corpus·nProbe·occupancy — linear),
      // and the fit runs on a 1/scale SAMPLE (quantizer training is
      // sample-sized in any real IVF build), so the fit's corpus×cells
      // cosine pass stays constant-cost instead of going quadratic.
      // Guard OFF here, deliberately: the fail-fast guard surfaced that
      // even this shape carries ONE skew cell past mean occupancy × 16
      // at 30× (r16's "clean" 179,972-row figure was itself 28 rows
      // short of 3 × corpus — the old cap's silent drop, invisible
      // until the guard existed); the probe instruments honesty by ROW
      // COUNT instead, and one popular cell's occupancy² is within the
      // pair budget at any probed scale
      "knn_join_ivf_scaled_cells" -> (() => CacheScope.using { sc =>
        val cells = 32 * scale
        val sample = embs.filter(col("vec_id") % scale === 0)
        val seeds = sample.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val cents = Similarity.kmeansFitInt8(
          sample.select(col("vec_id"), col("embedding")), "embedding",
          seeds, iters = 2)
        Similarity.knnJoinIvf(embs, "vec_id", "embedding",
          k = 3, centroids = cents, nProbe = 4,
          maxCellOccupancy = 0L, scope = sc).count()
      }),
      // q46's REGISTERED geometry since the r18 flip, verbatim: cells
      // derived from the corpus count (ceil(n / 64) — Models
      // TargetCellOcc), quantizer fit on the 25% hash sample (seeds =
      // the cells lowest-id sampled ids), GUARD ON at the registered
      // LshMaxBucket — this is the row that must complete with FULL
      // counts and a silent guard at 10×/30× where the fixed-32 shape
      // refused (r17 sweep; verdict task 1's Done criterion)
      "knn_join_registered" -> (() => CacheScope.using { sc =>
        // constants referenced FROM Models (not re-hardcoded) so
        // this row cannot silently drift from the shipped geometry if
        // a future round retunes the registered knobs (r18 review)
        val n = embs.filter(col("embedding").isNotNull).count()
        val cells = math.max(2,
          math.ceil(n / Models.TargetCellOcc.toDouble).toInt)
        val all = embs.select(col("vec_id"), col("embedding"))
        // r19 registered rule: seeds = the derived-count lowest
        // FULL-CORPUS ids (the sampled-seed rule was the measured
        // recall cost), fit on the hash sample
        val seeds = all.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val cents = Similarity.kmeansFitInt8(all, "embedding", seeds,
          iters = 2, fitFraction = Models.SampleFitFraction,
          fitIdCol = "vec_id", fitSeed = "ivf")
        Similarity.knnJoinIvf(embs, "vec_id", "embedding",
          k = 3, centroids = cents, nProbe = 4,
          maxCellOccupancy = MaxBucket, scope = sc).count()
      }),
      // the assignment-cost pair behind the two-level quantizer: with
      // cells ∝ corpus (32·scale — the scaled-cells routing) the FLAT
      // assignment does corpus × cells cosines (work ∝ scale², the next
      // super-linear term the r16 verdict named), while the two-level
      // descent does corpus × (branches + branchProbes·cells/branches)
      // at branches ≈ √(2·cells) (work ∝ scale^1.5). Seed centroids
      // (no Lloyd rounds) — this pair measures ASSIGNMENT, not recall
      // (recall parity is RecallSweep's ivf_2l rows)
      "ivf_assign_flat" -> (() => {
        val cells = 32 * scale
        val seeds = embs.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        embs.select(Similarity.ivfCell(col("embedding"), seeds).as("c"))
          .groupBy("c").count().count()
      }),
      "ivf_assign_2l" -> (() => {
        val cells = 32 * scale
        val seeds = embs.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val b = math.max(2, math.round(math.sqrt(2.0 * cells)).toInt)
        val (tops, fines) =
          Similarity.twoLevelIndexFitted(seeds, b, replicas = 2)
        embs.select(Similarity.ivfCell2L(col("embedding"), tops, fines, 2)
            .as("c"))
          .groupBy("c").count().count()
      }),
      // the two-level knob IN ITS CLAIMED REGIME (r18 verdict task 7):
      // the r17 negative control showed the descent LOSES end-to-end
      // at moderate cells (32·scale, occupancy ~63) because partial
      // descent concentrates probes into popular cells; its documented
      // operating rule says the sublinear assignment pays off only at
      // many cells / low occupancy. These four rows measure that
      // regime directly instead of extrapolating it: cells = corpus/2
      // (occupancy 2 — 1,000 cells at 1×, 10,000 at 10×), seed
      // centroids (no Lloyd rounds: the pair isolates ASSIGNMENT and
      // join cost at equal structure; recall is RecallSweep's job),
      // branches = √(2·cells), branchProbes 2. flat does corpus ×
      // cells cosines; 2L does corpus × (branches + 2·cells/branches).
      "ivf_assign_flat_dense" -> (() => {
        val cells = (1000 * scale).toInt
        val seeds = embs.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        embs.select(Similarity.ivfCell(col("embedding"), seeds).as("c"))
          .groupBy("c").count().count()
      }),
      "ivf_assign_2l_dense" -> (() => {
        val cells = (1000 * scale).toInt
        val seeds = embs.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val b = math.max(2, math.round(math.sqrt(2.0 * cells)).toInt)
        val (tops, fines) =
          Similarity.twoLevelIndexFitted(seeds, b, replicas = 2)
        embs.select(Similarity.ivfCell2L(col("embedding"), tops, fines, 2)
            .as("c"))
          .groupBy("c").count().count()
      }),
      "knn_join_ivf_dense_flat" -> (() => CacheScope.using { sc =>
        val cells = (1000 * scale).toInt
        val seeds = embs.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        Similarity.knnJoinIvf(embs, "vec_id", "embedding",
          k = 3, centroids = seeds, nProbe = 8,
          maxCellOccupancy = 0L, scope = sc).count()
      }),
      "knn_join_ivf_dense_2l" -> (() => CacheScope.using { sc =>
        val cells = (1000 * scale).toInt
        val seeds = embs.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val b = math.max(2, math.round(math.sqrt(2.0 * cells)).toInt)
        val (tops, fines) =
          Similarity.twoLevelIndexFitted(seeds, b, replicas = 2)
        Similarity.knnJoinIvf2L(embs, "vec_id", "embedding",
          k = 3, tops, fines, branchProbes = 2, nProbe = 8,
          maxCellOccupancy = 0L, scope = sc).count()
      }),
      // the AUTO ROUTE on the registered geometry (r19 verdict task 1):
      // knnJoinIvfAuto with the shipped constants — derived cells stay
      // far under TwoLevelAtCells at probe scales (313 cells at 10×,
      // 938 at 30×), so the route must read flat/split_flat and the
      // cost must track knn_join_registered (+ the occupancy pass the
      // route decision costs). The route is printed as a side line.
      "knn_join_auto" -> (() => CacheScope.using { sc =>
        val n = embs.filter(col("embedding").isNotNull).count()
        val cells = math.max(2,
          math.ceil(n / Models.TargetCellOcc.toDouble).toInt)
        val all = embs.select(col("vec_id"), col("embedding"))
        // r19 registered rule: seeds = the derived-count lowest
        // FULL-CORPUS ids (the sampled-seed rule was the measured
        // recall cost), fit on the hash sample
        val seeds = all.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val cents = Similarity.kmeansFitInt8(all, "embedding", seeds,
          iters = 2, fitFraction = Models.SampleFitFraction,
          fitIdCol = "vec_id", fitSeed = "ivf")
        val route = Similarity.annRouteFor(embs, "embedding", cents,
          splitAbove = Models.SplitAbove)
        println(s"""{"note":"ann_route","op":"knn_join_auto",""" +
          s""""scale":$scale,"cells":${cents.size},"route":"$route"}""")
        Similarity.knnJoinIvfAuto(embs, "vec_id", "embedding",
          k = 3, centroids = cents, nProbe = 4,
          splitAbove = Models.SplitAbove,
          targetOcc = Models.SplitTargetOcc,
          splitIters = Models.SplitIters,
          maxCellOccupancy = MaxBucket, scope = sc).count()
      }),
      // the auto route ON THE DENSE FIXTURE (the verdict's Done
      // criterion: the flat path must never run past the boundary):
      // cells = corpus/2 — 1,000 at 1× (below TwoLevelAtCells → the
      // auto join runs flat), 10,000 at 10× (past it → the descent
      // runs). The probe asserts the route crossing and the timing
      // must land on knn_join_ivf_dense_2l's tN, not dense_flat's —
      // the engine acting on the boundary a human applied in r18.
      "knn_join_auto_dense" -> (() => CacheScope.using { sc =>
        val cells = (1000 * scale).toInt
        val seeds = embs.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val route = Similarity.annRouteFor(embs, "embedding", seeds,
          splitAbove = 100000L)
        println(s"""{"note":"ann_route","op":"knn_join_auto_dense",""" +
          s""""scale":$scale,"cells":$cells,"route":"$route"}""")
        // gate the route assertion on the BOUNDARY ITSELF, not on the
        // scale (r19 ADVICE: scales 2-4 put 1000·scale cells inside the
        // crossover band below TwoLevelAtCells — the route correctly
        // reads flat there, and a scale-keyed assert would hard-fail
        // the whole probe run with a non-guard-shaped exception)
        require(cells < Similarity.TwoLevelAtCells || route == "two_level",
          s"dense fixture past the boundary must route two_level, got $route")
        require(cells >= Similarity.TwoLevelAtCells || route == "flat",
          s"dense fixture below the boundary must route flat, got $route")
        Similarity.knnJoinIvfAuto(embs, "vec_id", "embedding",
          k = 3, centroids = seeds, nProbe = 8,
          splitAbove = 100000L, targetOcc = 64L, branchProbes = 2,
          maxCellOccupancy = 0L, scope = sc).count()
      }),
      // the ANN model artifact's COSTS SEPARATED (r19 verdict task 2 —
      // the span_index_build/span_cut_probe_indexed pair applied to the
      // quantizer): build = the registered-geometry sample fit plus the
      // cells × dims parquet write (once per corpus); probe = q174's
      // exact shape reading the persisted centroids back and running
      // the join — what every consumer pays after amortization.
      // knn_join_registered above pays BOTH in one query.
      "ivf_model_build" -> (() => {
        buildProbeIvfModel(embs, scale).toLong
      }),
      "knn_probe_persisted_model" -> (() => CacheScope.using { sc =>
        val sess = embs.sparkSession
        // first rep builds if ivf_model_build did not run this session
        // (the path is generator-version + scale keyed, so a model left
        // by an OLDER probe-corpus generator is never silently reused —
        // r19 ADVICE); min-of-reps then reads the warm, probe-only cost
        val path = probeModelPath(scale)
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
          sess.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(path)))
          buildProbeIvfModel(embs, scale)
        val cents = sess.read.parquet(path).collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        Similarity.knnJoinIvf(embs, "vec_id", "embedding",
          k = 3, centroids = cents, nProbe = 4,
          maxCellOccupancy = MaxBucket, scope = sc).count()
      }),
      // q178's seed-quality report (r20): one corpus scan + a
      // 2^4-cell aggregate + the 1-row boundary fetch — the audit a
      // deployment runs before every fit, so its cost must stay ∝
      // scan (the red line is any super-linear bend)
      "seed_coverage" -> (() => {
        val n = embs.filter(col("embedding").isNotNull).count()
        val cells = math.max(2,
          math.ceil(n / Models.TargetCellOcc.toDouble).toInt)
        Similarity.seedCoverageReport(embs, "vec_id", "embedding",
          nSeeds = cells, signBits = 4).count()
      }),
      // the two-level path END TO END at scaled cells (sample fit,
      // fitted tops at √(2·cells), replicas 2, branchProbes 2). Guard
      // off like scaled_cells (rows are the honesty instrument).
      // MEASURED VERDICT (SCALING.md r17): WORSE than the flat scaled
      // path at this fixture — the partial descent concentrates items
      // and probes into popular cells, inflating the candidate join
      // (exp 1.11 vs 0.81 at 30×, same rows); the sublinear ASSIGNMENT
      // term (ivf_assign_2l) only dominates once cells ≫ 10³ and the
      // join is occupancy-cheap — kept as the negative control
      "knn_join_ivf_2l_scaled" -> (() => CacheScope.using { sc =>
        val cells = 32 * scale
        val sample = embs.filter(col("vec_id") % scale === 0)
        val seeds = sample.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val cents = Similarity.kmeansFitInt8(
          sample.select(col("vec_id"), col("embedding")), "embedding",
          seeds, iters = 2)
        val b = math.max(2, math.round(math.sqrt(2.0 * cells)).toInt)
        val (tops, fines) =
          Similarity.twoLevelIndexFitted(cents, b, replicas = 2)
        Similarity.knnJoinIvf2L(embs, "vec_id", "embedding",
          k = 3, tops, fines, branchProbes = 2, nProbe = 4,
          maxCellOccupancy = 0L, scope = sc).count()
      }),
      // scaled bits: occupancy held constant (bits + log2(scale)) — the
      // knob a 100 TB deployment MUST turn; the probe proves it restores
      // the exponent
      "knn_join_scaled_bits" -> (() => CacheScope.using { sc =>
        val bits = 8 + math.round(math.log(scale.toDouble) / math.log(2.0)).toInt
        Similarity.knnJoin(embs, "vec_id", "embedding",
          k = 3, signBits = bits, probeHamming = 1, maxBucketOccupancy = MaxBucket,
          scope = sc).count()
      }),
      "connected_components" -> (() => CacheScope.using { sc =>
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
          n = 3, threshold = 0.5, maxDf = 100, scope = sc)
        Dedup.connectedComponents(pairs, docs.select(col("doc_id")), "doc_id")
          .count()
      }),
      // q157's DEPLOYMENT shape (r16 verdict task 4): the registered
      // query pays a 3/4-corpus standing-label build in-query (it must
      // be self-contained — the driver bench holds no state between
      // queries), so its anchor overstates the operator's marginal
      // cost. Here the standing labeling and the batch's pairs are
      // PRECOMPUTED into localCheckpoint blocks (which survive time()'s
      // per-rep clearCache), built lazily inside rep 1 — with reps >= 2
      // the min-timed cell is the pairs-sized marginal merge alone.
      "cc_incremental_marginal" -> {
        lazy val staged = CacheScope.using { sc =>
          val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
            n = 3, threshold = 0.5, maxDf = 100, scope = sc)
            .localCheckpoint(true)
          val isNew = (c: Column) => c % 4 === 0
          val standing = Dedup.connectedComponents(
            pairs.filter(!isNew(col("a")) && !isNew(col("b"))),
            docs.filter(!isNew(col("doc_id"))).select(col("doc_id")),
            "doc_id").localCheckpoint(true)
          val batch = pairs.filter(isNew(col("a")) || isNew(col("b")))
            .localCheckpoint(true)
          val newV = docs.filter(isNew(col("doc_id")))
            .select(col("doc_id")).localCheckpoint(true)
          (standing, batch, newV)
        }
        () => CacheScope.using { sc =>
          val (standing, batch, newV) = staged
          Dedup.connectedComponentsIncremental(standing, batch, newV,
            "doc_id", scope = sc).count()
        }
      },
      // task-5 adversarial split: a batch whose pairs CHAIN every
      // standing component (touched-label graph = the entire component
      // set, maximum diameter) — the worst case for the "iterative work
      // is pairs-sized" claim. Standing stage precomputed as above; the
      // probe's rows/exponent columns keep the honesty.
      "cc_incremental_adversarial" -> {
        lazy val staged = CacheScope.using { sc =>
          val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
            n = 3, threshold = 0.5, maxDf = 100, scope = sc)
          val standing = Dedup.connectedComponents(pairs,
            docs.select(col("doc_id")), "doc_id").localCheckpoint(true)
          val w = org.apache.spark.sql.expressions.Window.orderBy(col("cluster"))
          // one global sort over the COMPONENTS-sized label set (build
          // cost only, checkpointed away from the timed merge)
          val batch = standing.select(col("cluster")).distinct()
            .select(col("cluster").as("b"),
              lag(col("cluster"), 1).over(w).as("a"))
            .filter(col("a").isNotNull)
            .select(col("a"), col("b")).localCheckpoint(true)
          (standing, batch)
        }
        () => CacheScope.using { sc =>
          val (standing, batch) = staged
          Dedup.connectedComponentsIncremental(standing, batch,
            standing.select(col("doc_id")).limit(0), "doc_id",
            scope = sc).count()
        }
      },
      // asymmetric banding (q63's exact shape: ref = doc_id % 4 == 0,
      // inc = rest, per-side caps) — the candidate join's within-bucket
      // term is |inc ∩ bucket| × |ref ∩ bucket|, so the red line is the
      // same occupancy² bend as the self-join family, A/B-comparable
      // against minhash_lsh on the same corpus
      "incremental_minhash" -> (() => CacheScope.using { sc =>
        val incSigs = sc.cache(Dedup.minHashSignatures(
          docs.filter(col("doc_id") % 4 =!= 0), "doc_id", col("text"),
          n = 3, k = 8))
        val refSigs = sc.cache(Dedup.minHashSignatures(
          docs.filter(col("doc_id") % 4 === 0), "doc_id", col("text"),
          n = 3, k = 8))
        val matched = Dedup.minhashMatchedAgainst(incSigs, refSigs,
          "doc_id", k = 8, rowsPerBand = 4, threshold = 0.5,
          maxBucket = MaxBucket, scope = sc)
        Dedup.dropNearDupsAgainst(
          docs.filter(col("doc_id") % 4 =!= 0), "doc_id", matched).count()
      }),
      // q64's exact shape — centroid exchange is cells × dims (constant
      // per cell count), election and pairwise-to-rep are linear, so the
      // red line is cell occupancy outrunning the cap: survivors must
      // stay ≈ corpus (pass-through keeps capped cells whole) while time
      // stays sub-quadratic
      "semantic_dedup" -> (() => CacheScope.using { sc =>
        Dedup.semanticDedup(embs, "vec_id", col("embedding"),
          signBits = 8, threshold = 0.35, maxBucket = MaxBucket,
          scope = sc).count()
      }),
      // the event-sequence family (q72/q73/q74's exact shapes): users
      // ∝ scale with constant events-per-user, so per-user partitions
      // stay fixed-size and the red line is the user-keyed exchange +
      // sort bending super-linear (rows must grow a strict ∝ scale —
      // no caps exist in this family)
      // q83's exact shape — the ngram_jaccard index pre-shrunk ~2/(w+1)
      // in the codegen winnow scan; A/B against ngram_jaccard on the
      // same corpus, same red line (hot-fingerprint occupancy²)
      "winnow_pairs" -> (() => CacheScope.using { sc =>
        Dedup.winnowedOverlapPairs(docs, "doc_id", col("text"),
          k = 4, w = 4, minShared = 2, maxDf = 100, scope = sc).count()
      }),
      // q82's exact shape — posting list cut to the query vocabulary by
      // a broadcast semi-join before the tf aggregate; the red line is
      // the corpus-keyed doc-length join and the hot-term skew (zipf
      // words make the probe's query terms genuinely hot)
      "bm25_topk" -> (() => CacheScope.using { sc =>
        val queries = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            array_join(slice(split(col("text"), " "), 1, 6), " ").as("qtext"))
        graft.ops.Retrieval.bm25TopK(docs, "doc_id", col("text"),
          queries, "query_id", col("qtext"), k = 10, scope = sc).count()
      }),
      // q163's exact shape — positional shingle explode (∝ corpus
      // tokens), duplicated-sliver semi-join, per-doc island window;
      // the red line is the distinct-doc aggregate over hot shingles
      // bending super-linear (the probe corpus has the same every-20th
      // near-dup rate as the fixture)
      "dup_spans" -> (() => CacheScope.using { sc =>
        Dedup.duplicatedSpans(docs, "doc_id", col("text"),
          n = 8, minDocs = 2, scope = sc).count()
      }),
      // q164's exact shape — dup_spans' stages plus token coverage over
      // the duplicated sliver and reassembly of only the docs that lost
      // tokens; the red line is the reassembly re-explode growing past
      // the near-dup fraction (cut docs ∝ corpus at the fixture's
      // every-20th rate, so rows and time should both stay ∝ corpus)
      "span_cut" -> (() => CacheScope.using { sc =>
        Dedup.spanCutDedup(docs, "doc_id", col("text"),
          n = 8, minDocs = 2, scope = sc).count()
      }),
      // q168's exact shape — the standing reference reduces to its
      // distinct shingle index (amortizable in deployment, rebuilt here)
      // and the incoming side probes it; both sides ∝ corpus
      "span_cut_ingest" -> (() => CacheScope.using { sc =>
        Dedup.spanCutAgainst(
          docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0),
          "doc_id", col("text"), n = 8, scope = sc).count()
      }),
      // the standing-index amortization, COSTS SEPARATED (r18 verdict
      // task 3): build = extract + bucketed-write the reference
      // quarter's distinct shingle keys (what a deployment pays ONCE
      // per index build); probe = q171's exact shape reading the
      // persisted index back (what every batch pays). span_cut_ingest
      // above pays BOTH in one query — the difference between its row
      // and probe's row IS the amortized cost.
      "span_index_build" -> (() => {
        val sess = docs.sparkSession
        val name = s"graft_probe_span_idx_s$scale"
        graft.sources.Sources.writeBucketedTable(
          Dedup.spanIndexKeys(docs.filter(col("doc_id") % 4 === 0),
            col("text"), n = 8),
          name, nBuckets = 32, bucketCols = Seq("__k"),
          path = Some(s"/tmp/graft_probe_span_idx/s$scale"))
        sess.table(name).count()
      }),
      // the same pair at the DEPLOYMENT shape: a FIXED-SIZE arriving
      // batch (the 1× corpus's first 1,250 docs) against a standing
      // reference that grows ∝ scale. This is where amortization lives:
      // the rebuild form re-pays the reference explode+distinct per
      // batch (cost ∝ standing corpus), the indexed form pays only the
      // probe semi-join against the pre-built keys
      "span_ingest_rebuild_smallbatch" -> (() => CacheScope.using { sc =>
        Dedup.spanCutAgainst(
          docs.filter(col("doc_id") < 1250),
          docs.filter(col("doc_id") >= 1250),
          "doc_id", col("text"), n = 8, scope = sc).count()
      }),
      "span_probe_indexed_smallbatch" -> (() => CacheScope.using { sc =>
        val sess = docs.sparkSession
        val name = s"graft_probe_span_idx_big_s$scale"
        if (!sess.catalog.tableExists(name))
          graft.sources.Sources.writeBucketedTable(
            Dedup.spanIndexKeys(docs.filter(col("doc_id") >= 1250),
              col("text"), n = 8),
            name, nBuckets = 32, bucketCols = Seq("__k"),
            path = Some(s"/tmp/graft_probe_span_idx_big/s$scale"))
        Dedup.spanCutAgainstIndex(
          docs.filter(col("doc_id") < 1250),
          sess.table(name), "doc_id", col("text"), n = 8,
          scope = sc).count()
      }),
      // the standing-index UPDATE at the deployment shape (r19 verdict
      // task 3): a FIXED-SIZE arriving batch is cut against the
      // pre-built standing index, and its survivors' new shingle keys
      // are derived by anti-join (q175's append stage). The cost
      // budget is ∝ batch plus one bucket-local scan of the standing
      // files — NOT ∝ re-deriving the index (which
      // span_ingest_rebuild_smallbatch pays); the row's exponent
      // should track span_probe_indexed_smallbatch's, not rebuild's.
      "span_index_append_smallbatch" -> (() => CacheScope.using { sc =>
        val sess = docs.sparkSession
        val name = s"graft_probe_span_idx_big_s$scale"
        if (!sess.catalog.tableExists(name))
          graft.sources.Sources.writeBucketedTable(
            Dedup.spanIndexKeys(docs.filter(col("doc_id") >= 1250),
              col("text"), n = 8),
            name, nBuckets = 32, bucketCols = Seq("__k"),
            path = Some(s"/tmp/graft_probe_span_idx_big/s$scale"))
        val b1cut = Dedup.spanCutAgainstIndex(
          docs.filter(col("doc_id") < 1250),
          sess.table(name), "doc_id", col("text"), n = 8, scope = sc)
        Dedup.spanIndexAppend(sess.table(name), b1cut,
          col("dedup_text"), n = 8).count()
      }),
      // the vector-side corpus-update chain (q176) at the deployment
      // shape: two FIXED batches against a standing reference ∝ scale
      // — round 1 drops batch 1, survivors join the corpus, round 2
      // drops batch 2 against the union. The budget is the standing
      // registration (∝ corpus, amortizable as a persisted bucketed
      // table) plus two fixed-batch probe joins; rows ∝ batch.
      "cosine_corpus_update_smallbatch" -> (() => CacheScope.using { sc =>
        val ref = embs.filter(col("vec_id") >= 1000)
        val b1 = embs.filter(col("vec_id") < 500)
        val b2 = embs.filter(col("vec_id") >= 500 && col("vec_id") < 1000)
        // 0.9 = near-dup semantics on this fixture (0.3 would match
        // every same-label vector once the reference is dense enough,
        // collapsing survivors to zero — a degenerate instrument)
        val s1 = sc.cache(Dedup.dropNearDupsAgainst(b1, "vec_id",
          Dedup.cosineMatchedAgainst(b1, ref, "vec_id", col("embedding"),
            signBits = 8, threshold = 0.9, probes = 4, scope = sc)))
        Dedup.dropNearDupsAgainst(b2.select(col("vec_id")), "vec_id",
          Dedup.cosineMatchedAgainst(b2, ref.unionByName(s1), "vec_id",
            col("embedding"), signBits = 8, threshold = 0.9, probes = 4,
            scope = sc)).count()
      }),
      "span_cut_probe_indexed" -> (() => CacheScope.using { sc =>
        val sess = docs.sparkSession
        val name = s"graft_probe_span_idx_s$scale"
        // first rep builds if span_index_build did not run this session;
        // min-of-reps then reads the warm, probe-only cost
        if (!sess.catalog.tableExists(name))
          graft.sources.Sources.writeBucketedTable(
            Dedup.spanIndexKeys(docs.filter(col("doc_id") % 4 === 0),
              col("text"), n = 8),
            name, nBuckets = 32, bucketCols = Seq("__k"),
            path = Some(s"/tmp/graft_probe_span_idx/s$scale"))
        Dedup.spanCutAgainstIndex(
          docs.filter(col("doc_id") % 4 =!= 0),
          sess.table(name), "doc_id", col("text"), n = 8,
          scope = sc).count()
      }),
      // q158's exact shape — both retrieval arms at k=20 plus the RRF
      // fuse; the red line is whichever arm bends (bm25's corpus-keyed
      // doc-length join or the brute cosine scan) — the fuse layer is
      // Σk rows per query and must stay invisible at any scale
      "hybrid_rrf" -> (() => CacheScope.using { sc =>
        val queries = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            array_join(slice(split(col("text"), " "), 1, 6), " ").as("qtext"))
        val lex = graft.ops.Retrieval.bm25TopK(docs, "doc_id", col("text"),
            queries, "query_id", col("qtext"), k = 20, scope = sc)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val vec = Similarity.bruteForceTopK(embs, "vec_id", "embedding",
            embs.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
          .select(col("qid").as("query_id"), col("id").as("doc_id"),
            col("rank"))
        graft.ops.Retrieval.rrfFuse(Seq(lex, vec), "query_id", "doc_id",
          "rank", k = 10).count()
      }),
      // q159's exact shape — the corpus-scale work is the brute
      // shortlist scan; the six greedy steps run over cached m/m²-per-
      // query tables and must stay flat as the corpus grows
      "mmr_select" -> (() => CacheScope.using { sc =>
        val shortlist = Similarity.bruteForceTopK(embs, "vec_id",
          "embedding", embs.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 20)
        val cand = shortlist.join(
          embs.select(col("vec_id").as("id"), col("embedding")), "id")
        Similarity.mmrSelect(cand, "qid", "id", "cos", "embedding",
          k = 6, lambda = 0.7, scope = sc).count()
      }),
      // q158's fuse layer at deployment shape: 4 arms (production fuses
      // 3-5, the registered q158 fuses 2) over per-query lists ∝ scale
      // (100·scale ranks/query, 20 queries, synthetic hash-ranked arms
      // — the fuse layer's cost does not care where ranks came from).
      // The fuse must stay ∝ Σ list sizes (arm count a constant
      // factor), never a pairwise blow-up across arms
      "rrf_fuse_deploy" -> (() => {
        val L = 100L * scale
        val sess = docs.sparkSession
        val arms = (1 to 4).map { a =>
          sess.range(20L * L).select(
            (col("id") % 20).as("query_id"),
            pmod(hash(col("id"), lit(a)).cast("long"), lit(100000L))
              .as("doc_id"),
            (col("id") / 20 + 1).as("rank"))
            .groupBy("query_id", "doc_id").agg(min("rank").as("rank"))
        }
        graft.ops.Retrieval.rrfFuse(arms, "query_id", "doc_id", "rank",
          k = 100).count()
      }),
      // q159 at deployment pick counts: shortlist m = 50·scale per
      // query, k = 10·scale greedy picks (production picks ~100 from
      // ~1k; the registered q159 picks 6 from 20). The red line is the
      // pick CHAIN: per-pick localCheckpoint count grows with k, so
      // superlinear growth here means planning/churn cost per step is
      // rising with the chain length, not the data volume (each step
      // is a small job over the cached shortlist/pairs tables)
      "mmr_deploy" -> (() => CacheScope.using { sc =>
        val m = 50 * scale
        val kPicks = 10 * scale
        val shortlist = Similarity.bruteForceTopK(embs, "vec_id",
          "embedding", embs.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = m)
        val cand = shortlist.join(
          embs.select(col("vec_id").as("id"), col("embedding")), "id")
        // maxK lifted: this probe IS the instrument that measures the
        // loss the default bound (MmrDistributedMaxK) refuses to ship
        Similarity.mmrSelect(cand, "qid", "id", "cos", "embedding",
          k = kPicks, lambda = 0.7, scope = sc, maxK = kPicks).count()
      }),
      // the same deployment shape through mmrSelectLocal — ONE mapGroups
      // job instead of ~3 jobs per pick: the per-query candidate set is
      // bounded (m vectors), so the greedy loop is per-group-imperative
      // work and the growth should be the in-memory k·m product, not
      // the job-launch chain
      "mmr_deploy_local" -> (() => {
        val m = 50 * scale
        val kPicks = 10 * scale
        val shortlist = Similarity.bruteForceTopK(embs, "vec_id",
          "embedding", embs.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = m)
        val cand = shortlist.join(
          embs.select(col("vec_id").as("id"), col("embedding")), "id")
        Similarity.mmrSelectLocal(cand, "qid", "id", "cos", "embedding",
          k = kPicks, lambda = 0.7).count()
      }),
      // q84's exact shape — codegen pair scan (fan-out ≤ window per
      // token) + distinct-pair exchange; vocab ∝ cbrt(scale) grows the
      // pair key space ∝ scale^(2/3), so the red line is the pair
      // aggregate's exchange bending past that
      "cooccur_topk" -> (() => CacheScope.using { sc =>
        graft.ops.TextAnalysis.cooccurTopK(docs, col("text"),
          window = 3, k = 20, minCount = 5, scope = sc).count()
      }),
      // q104's exact shape — one cached explode, vocab-sized df
      // aggregate, token-keyed join-back (the hot-key hazard under
      // zipf words, SCALING.md round 14), bounded-heap top-k per doc
      "keywords_tfidf" -> (() => CacheScope.using { sc =>
        graft.ops.TextAnalysis.keywordsTopK(docs, "doc_id", col("text"),
          k = 3, scope = sc).count()
      }),
      // q106's exact shape — knn candidates against the labeled third
      // only, exact-integer majority vote; red line = per-cell
      // occupancy (fixed bits, like knn_join_fixed_bits)
      "label_prop" -> (() => CacheScope.using { sc =>
        Similarity.labelPropagate(
          embs.withColumn("lbl",
            when(col("vec_id") % 3 === 0, col("label"))),
          "vec_id", "embedding", "lbl", k = 5, signBits = 8,
          probeHamming = 1, maxBucketOccupancy = 1000L, scope = sc).count()
      }),
      "sessionize" -> (() =>
        graft.ops.Events.sessionize(evs, "user_id", "ts_us", "event_id",
          gapUs = 8L * 3600L * 1000000L).count()),
      "event_funnel" -> (() =>
        graft.ops.Events.funnel(evs, "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase")).count()),
      "trailing_window" -> (() =>
        graft.ops.Events.trailingWindow(evs, "user_id", "ts_us", "units",
          windowUs = 24L * 3600L * 1000000L).count()),
      // r14 families: the corpus-shingle self-join (sources fixed, the
      // per-hash fanout is what could grow), the grid-bucketed interval
      // join, the session-keyed pair build, and the presence-replication
      // distinct — each mirroring its registered query's parameters
      // (q128/q124/q126/q129)
      "source_overlap" -> (() => CacheScope.using { sc =>
        Dedup.sourceOverlapMatrix(docs, "source", col("text"), n = 3,
          scope = sc).count()
      }),
      "interval_overlap" -> (() => {
        val ev2 = evs.select(col("user_id"),
          expr("ts_us div 86400000000").as("day"), col("ts_us"))
        val spans = ev2.groupBy(col("user_id"), col("day"))
          .agg(min(col("ts_us")).as("s_lo"), max(col("ts_us")).as("s_hi"))
          .drop("day")
        val wins = ev2.select(col("day")).distinct()
          .withColumn("k", explode(sequence(lit(0L), lit(3L))))
          .select((col("day") * 4 + col("k")).as("window_id"),
            (col("day") * 86400000000L + col("k") * 21600000000L).as("w_lo"))
          .withColumn("w_hi", col("w_lo") + 7200000000L - 1)
        graft.ops.Joins.intervalOverlapJoin(spans, "s_lo", "s_hi",
          wins, "w_lo", "w_hi", bucketWidth = 21600000000L).count()
      }),
      "covisitation" -> (() => CacheScope.using { sc =>
        graft.ops.Events.covisitation(
          graft.ops.Events.sessionize(evs, "user_id", "ts_us", "event_id",
            gapUs = 8L * 3600L * 1000000L),
          Seq("user_id", "session_id"), "event_type", scope = sc).count()
      }),
      "rolling_active" -> (() =>
        graft.ops.Events.rollingActiveUsers(evs, "user_id", "ts_us",
          windowDays = 7).count()),
      // r14 string-sim + retrieval + graph families, each mirroring its
      // registered query's parameters (q136/q139/q138/q141/q140). The
      // red lines: lookup — corpus-side signature build staying linear
      // with the probe batch FIXED at 50; blocked self-join — per-block
      // candidate quadratics (block count is fixed at langs×sources, so
      // blocks grow ∝ scale); containment — the uncapped inverted-index
      // fanout; phrase — a frequent term's posting join; kcore — peel
      // rounds staying flat on a constant-degree bipartite graph
      // (parts/suppliers/edges all ∝ scale, degrees Poisson-constant).
      "edit_lookup" -> (() => CacheScope.using { sc =>
        val titles = docs.select(col("doc_id"),
          substring(col("text"), 1, 40).as("title"))
        graft.ops.StringSim.editDistanceLookup(
          titles.filter(col("doc_id") < 50), "doc_id", "title",
          titles, "doc_id", "title", maxDist = 6, q = 2, scope = sc).count()
      }),
      // q139's registered shape (full text, lang block, length bands)
      // vs the same join with banding OFF: rows must be identical and
      // the banded exponent must hold flat where the flat-block form
      // trends quadratic (the r14 finding, now the A/B under test)
      "edit_blocked" -> (() => CacheScope.using { sc =>
        graft.ops.StringSim.editDistanceJoin(
          docs.select(col("doc_id"), col("lang"), col("text")),
          "doc_id", "text", maxDist = 6, q = 2,
          blockOn = Seq("lang"), lengthBand = 6, scope = sc).count()
      }),
      "edit_blocked_flat" -> (() => CacheScope.using { sc =>
        graft.ops.StringSim.editDistanceJoin(
          docs.select(col("doc_id"), col("lang"), col("text")),
          "doc_id", "text", maxDist = 6, q = 2,
          blockOn = Seq("lang"), scope = sc).count()
      }),
      "containment" -> (() => CacheScope.using { sc =>
        graft.ops.StringSim.containmentJoin(docs, "doc_id", "text",
          n = 3, tauBp = 8000, scope = sc).count()
      }),
      "phrase_search" -> (() => CacheScope.using { sc =>
        graft.ops.Retrieval.phraseSearch(docs, "doc_id", col("text"),
          Seq("w0", "w1"), scope = sc).count()
      }),
      "kcore" -> (() => {
        val parts = 2000L * scale
        val supps = 100L * scale
        val e = docs.sparkSession.range(60000L * scale).select(
          pmod(hash(col("id"), lit(1)).cast("long"), lit(parts)).as("src"),
          (pmod(hash(col("id"), lit(2)).cast("long"), lit(supps)) +
            10000000000L).as("dst"))
        graft.ops.Centrality.kCore(e, "node_id", k = 20).count()
      }))

    // fail fast on a typo'd filter — otherwise the probe spends minutes
    // generating both corpora and then reports an empty ops map as if
    // the run succeeded. Names come from the ops list itself (building
    // it never invokes the thunks, so null frames are safe) — one
    // source of truth, no hand-kept set to drift.
    val knownOps = ops(null, null, null, 1).map(_._1).toSet
    onlyOps.foreach { sel =>
      val unknown = sel -- knownOps
      require(unknown.isEmpty,
        s"SPARK_GRAFT_PROBE_OPS names unknown ops $unknown; known: $knownOps")
    }

    final case class Cell(t: Double, rows: Long)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Cell, Cell)]
    for (scale <- Seq(1, bigScale)) {
      val (docs, embs, evs) = corpus(spark, dir, scale)
      ops(docs, embs, evs, scale)
        .filter { case (name, _) => onlyOps.forall(_.contains(name)) }
        .foreach { case (name, body) =>
        // an occupancy guard FIRING at scale is a designed outcome (the
        // op refused to mask quadratic work), not a probe crash: record
        // it as a guarded cell; any other exception still fails fast
        def isGuard(e: Throwable): Boolean = e != null && (
          Option(e.getMessage).exists(m =>
            m.contains("maxCellOccupancy") || m.contains("maxBandOccupancy")
              || m.contains("maxBucketOccupancy"))
            || isGuard(e.getCause))
        val (t, rows) = try time(spark, reps)(body()) catch {
          case e: Throwable if isGuard(e) => (-1.0, -1L)
        }
        results(name) =
          if (scale == 1) (Cell(t, rows), Cell(0.0, 0L))
          else (results(name)._1, Cell(t, rows))
      }
    }

    // Locale.ROOT: the f-interpolator formats via the JVM default
    // locale, so a comma-decimal locale (de_DE, fr_FR) would emit
    // {"t1":2,93} — invalid JSON
    def d2(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    val opsJson = results.map { case (name, (c1, cN)) =>
      if (c1.t < 0 || cN.t < 0)
        s""""$name":{"t1":${d2(c1.t)},"t$bigScale":${d2(cN.t)},""" +
          s""""guarded":true,"rows1":${c1.rows},"rows$bigScale":${cN.rows}}"""
      else {
        val ratio = cN.t / c1.t
        val exp = math.log(ratio) / math.log(bigScale.toDouble)
        s""""$name":{"t1":${d2(c1.t)},"t$bigScale":${d2(cN.t)},"ratio":${d2(ratio)},""" +
          s""""exponent":${d2(exp)},"rows1":${c1.rows},"rows$bigScale":${cN.rows}}"""
      }
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","unit":"sec","ops":$opsJson,""" +
      s""""scale":$bigScale,"reps":$reps,"docs_1x":5000,"vecs_1x":2000}""")
    spark.stop()
  }
}

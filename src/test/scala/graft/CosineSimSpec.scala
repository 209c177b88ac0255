package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CosineSim
import graft.ops.Similarity

/** The codegen'd CosineSim expression must be bit-identical to the
  * higher-order-function form (same sequential double fold), including
  * through whole-stage codegen and the interpreted path. */
class CosineSimSpec extends AnyFunSuite {

  import TestKit._
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(0.1f, -0.2f, 0.3f, 0.9f)),
    (2L, Array(0.4f, 0.5f, -0.6f, 0.0f)),
    (3L, Array(-1.0f, 2.0f, 0.5f, 0.25f)),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    .toDF("id", "v")

  test("native expression matches HOF cosine bit-for-bit") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("hof"),
        CosineSim(col("a.v"), col("b.v")).as("native"))
    val rows = pairs.collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(2), r.getDouble(3)) == 0,
        s"mismatch at (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("self-similarity is 1 and type errors are rejected at analysis") {
    val self = vecs.select(CosineSim(col("v"), col("v")).as("c")).collect()
    assert(self.forall(_.getDouble(0) == 1.0))
    val err = intercept[Exception] {
      vecs.select(CosineSim(col("id"), col("v"))).collect()
    }
    assert(err.getMessage.contains("cosine_sim") || err.getMessage.contains("DATATYPE"))
  }

  test("bounded-heap top-k equals window-rank top-k") {
    val items = Seq.tabulate(200)(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)))
      .toDF("vec_id", "embedding")
    val queries = items.filter(col("vec_id") < 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq.sorted
    val heap = Similarity.bruteForceTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 7)
    val window = Similarity.bruteForceTopKWindow(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 7)
    assert(canon(heap) == canon(window))
    assert(canon(heap).size == 21)
  }

  test("multi-probe LSH improves recall vs single-probe, never duplicates pairs") {
    val items = Seq.tabulate(400)(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)))
      .toDF("vec_id", "embedding")
    val queries = items.filter(col("vec_id") < 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = pairs(Similarity.bruteForceTopK(
      items, "vec_id", "embedding", queries, "vec_id", "embedding", 5)).toSet
    val single = pairs(Similarity.lshTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, signBits = 8))
    val multi = pairs(Similarity.lshTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, signBits = 8, probeHamming = 1))
    assert(multi.distinct == multi) // one probe per matching corpus row
    val rs = single.toSet.intersect(exact).size
    val rm = multi.toSet.intersect(exact).size
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    assert(multi.size >= single.size) // probes only widen the candidate set
  }

  private val probeItems = Seq.tabulate(400)(i =>
    (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)))

  test("lshTopK (4 bits, Hamming 2) is the exact top-k over the probed cells") {
    val items = probeItems.toDF("vec_id", "embedding")
    val queries = items.filter(col("vec_id") < 6)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq.sorted
    // reference: every pair whose sign cells differ in at most 2 bits,
    // ranked by (cos desc, id asc)
    val bucket = (c: String) => Similarity.signBucket(col(c), 4)
    val want = items.select(col("vec_id").as("id"), col("embedding").as("iv"),
        bucket("embedding").as("ib"))
      .crossJoin(queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        bucket("embedding").as("qb")))
      .filter(bit_count(col("ib").bitwiseXOR(col("qb"))) <= 2)
      .withColumn("cos", Similarity.cosine(col("iv"), col("qv")))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)).cast("long"))
      .filter(col("rank") <= 5)
    val got = Similarity.lshTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, signBits = 4, probeHamming = 2)
    assert(canon(got) == canon(want))
    assert(canon(got).size == 30)
  }

  test("lshTopK's probe expansion XORs the projected own cell, not the CASE sum") {
    val items = probeItems.toDF("vec_id", "embedding")
    val plan = Similarity.lshTopK(items, "vec_id", "embedding",
      items.filter(col("vec_id") < 4), "vec_id", "embedding", 5,
      signBits = 8, probeHamming = 2).queryExecution.optimizedPlan
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
        if g.generatorOutput.exists(_.name == "__bkt") => g
    }
    assert(gens.size == 1, plan.toString)
    val gen = gens.head.generator
    assert(gen.collect { case c: org.apache.spark.sql.catalyst.expressions.CaseWhen => c }.isEmpty,
      gen.toString)
    assert(gen.references.map(_.name).toSet == Set("__own"), gen.toString)
    // 1 + 8 + 28 probe cells, each one XOR of the projected column
    assert(gen.collect { case x: org.apache.spark.sql.catalyst.expressions.BitwiseXor => x }
      .size == 36, gen.toString)
  }

  test("IVF with nProbe = all cells equals brute force; fewer probes narrow it") {
    val items = Seq.tabulate(300)(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)))
      .toDF("vec_id", "embedding")
    val queries = items.filter(col("vec_id") < 3)
    val cents = items.filter(col("vec_id") < 6)
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray)).toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq.sorted
    val exact = Similarity.bruteForceTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5)
    // probing every cell scans the whole corpus: identical to brute force
    val all = Similarity.ivfTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", cents, k = 5, nProbe = cents.size)
    assert(canon(all) == canon(exact))
    // a narrow probe returns a subset of scored pairs, never duplicates
    val narrow = Similarity.ivfTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", cents, k = 5, nProbe = 1)
    val np = narrow.select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(np.distinct == np)
    assert(np.nonEmpty)
  }

  test("mismatched-length arrays yield null like the HOF form") {
    val ragged = Seq(
      (1L, Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (2L, Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "a", "b")
    val out = ragged.select(col("id"),
      CosineSim(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(out == Map(1L -> (false, false), 2L -> (true, true)))
  }

  test("top-k handles NaN scores (zero vectors) identically to window rank") {
    val items = (Seq((0L, Array(0.0f, 0.0f, 0.0f))) ++
      Seq.tabulate(20)(i => ((i + 1).toLong,
        Array.tabulate(3)(j => ((i * 7 + j * 3) % 11 - 5).toFloat / 5f))))
      .toDF("vec_id", "embedding")
    val queries = items.filter(col("vec_id") === 1)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val heap = Similarity.bruteForceTopK(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5)
    val window = Similarity.bruteForceTopKWindow(items, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5)
    assert(canon(heap) == canon(window))
  }

  test("all graft functions are callable from SQL via GraftExtensions") {
    val exts = new GraftExtensions
    // the extension applies cleanly to a fresh extensions container
    exts.apply(new org.apache.spark.sql.SparkSessionExtensions)
    // inject into the live session's registry the same set the extension does
    val reg = spark.sessionState.functionRegistry
    exts.functions.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    vecs.createOrReplaceTempView("vecs_sql")
    val out = spark.sql(
      """SELECT a.id, round(cosine_sim(a.v, a.v), 6) AS c FROM vecs_sql a""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.values.forall(_ == 1.0))
    import spark.implicits._
    Seq((1L, "a b c d"), (2L, "x y")).toDF("id", "text")
      .createOrReplaceTempView("docs_sql")
    val text = spark.sql(
      """SELECT id, fold_hash(text) AS fh, simhash(text, 32) AS sh,
        |  shingle_hashes(text, 2) AS shs,
        |  minhash_sig(shingle_hashes(text, 2), 4) AS sig
        |FROM docs_sql""".stripMargin).collect()
    assert(text.length == 2)
    assert(text.forall(r => r.getSeq[Long](4).length == 4))
    val scans = spark.sql(
      """SELECT id, winnow_hashes(text, 2, 2) AS wf,
        |  cooccur_pairs(text, 2) AS cp FROM docs_sql""".stripMargin)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1).length, r.getSeq[String](2))).toMap
    assert(scans(1L)._1 >= 1) // "a b c d": 3 grams, windowed minima
    assert(scans(1L)._2 == Seq("a b", "a c", "b c", "b d", "c d"))
    assert(scans(2L)._2 == Seq("x y"))
    // the aggregate pair groups from SQL too
    val am = spark.sql(
      """SELECT arg_max_hash(text, id) AS last, arg_min_hash(text, id) AS first
        |FROM docs_sql""".stripMargin).head
    assert(am.getString(0) == "x y" && am.getString(1) == "a b c d")
    // non-literal size parameter is rejected at analysis
    val err = intercept[Exception](
      spark.sql("SELECT simhash(text, id) FROM docs_sql").collect())
    assert(err.getMessage.contains("literal"))
  }

  test("null inputs yield null") {
    val withNull = vecs.withColumn("n",
      when(col("id") === 1, col("v")).otherwise(lit(null).cast("array<float>")))
    val out = withNull.select(col("id"), CosineSim(col("v"), col("n")).as("c"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) == false && out(2L) == true)
  }

  test("NearestCentroid: argmax parity with the greatest/when chain") {
    import graft.functions.NearestCentroidFn
    val cents = Seq(
      0 -> Array(1f, 0f), 1 -> Array(0f, 1f),
      2 -> Array(1f, 0f), // duplicate of 0: tie must go to the EARLIER
      3 -> Array(1f, 1f, 1f)) // dim mismatch: never selectable for 2-d rows
    val rows = Seq(
      (1L, Array(0.9f, 0.1f)),  // nearest: centroid 0
      (2L, Array(0.1f, 0.9f)),  // nearest: centroid 1
      (3L, Array(1.0f, 0.0f)),  // exact tie 0 vs 2 -> 0
      (4L, Array(0.0f, 0.0f))   // zero vector: all-NaN -> first centroid
    ).toDF("id", "v")
    val got = rows.select(col("id"), NearestCentroidFn(col("v"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 0))
    // chain parity on the same rows (the Column form it replaced)
    val cos = cents.filter(_._2.length == 2)
      .map { case (cid, v) => cid -> graft.ops.Similarity.cosine(col("v"), typedLit(v)) }
    val best = greatest(cos.map(_._2): _*)
    val chain = cos.foldRight(lit(-1): org.apache.spark.sql.Column) {
      case ((cid, c), els) => when(c === best, lit(cid)).otherwise(els)
    }
    val want = rows.select(col("id"), chain.as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === want)
    // every centroid dim-mismatched -> the chain's otherwise(-1)
    val none = rows.select(NearestCentroidFn(col("v"),
        Seq(7 -> Array(1f, 2f, 3f))).as("c"))
      .collect().map(_.getInt(0)).toSet
    assert(none === Set(-1))
    // null vector -> null out
    val nl = Seq((1L, null: Array[Float])).toDF("id", "v")
      .select(NearestCentroidFn(col("v"), cents).as("c")).collect()
    assert(nl.head.isNullAt(0))
  }
}

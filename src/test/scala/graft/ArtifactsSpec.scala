package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Artifacts
import graft.queries.{Models, Tables}

/** [[graft.sources.Artifacts]] — build-once vs refresh semantics plus
  * the r19 verdict-2 coupling: a drift-triggered refit must reach every
  * JVM model memo derived from the artifact, INCLUDING the case
  * `corpusStamp` cannot see (a non-local dir stamps 0, so the memo key
  * is constant across any corpus rewrite — exactly the deployment
  * drift→refit scenario). The spec simulates it with a `file:`-scheme
  * dir: Spark reads it fine, `java.io.File("file:/…")` does not exist,
  * so the stamp is 0 and ONLY the model generation can invalidate. */
class ArtifactsSpec extends AnyFunSuite {

  import TestKit._
  import spark.implicits._

  /** 384 vectors in 3 tight clusters (⌈384/64⌉ = 6 derived cells ≥ the
    * registered nProbe); `shift` moves cluster 2 so a refit on the
    * mutated corpus provably lands different centroids. */
  private def writeCorpus(path: String, shift: Float): Unit = {
    val rows = (0L until 384L).map { id =>
      val base: Array[Float] = (id % 3) match {
        case 0 => Array(1f, 0f, 0f, 0f)
        case 1 => Array(0f, 1f, 0f, 0f)
        case _ => Array(0f, shift, 1f, shift)
      }
      val r = new scala.util.Random(id)
      (id, base.map(x => x + 0.05f * r.nextFloat()).toSeq, id % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(path)
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("refreshTable bumps the model generation; ensureTable never does") {
    val name = "graft_test_gen_" + System.nanoTime()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-artifacts-gen-").toString
    assert(Artifacts.generation(name) === 0L)
    Artifacts.ensureTable(spark, name, s"$dir/t") {
      Seq((1, 2)).toDF("a", "b")
    }
    Artifacts.ensureTable(spark, name, s"$dir/t") {
      fail("build-once must not rebuild"): org.apache.spark.sql.DataFrame
    }
    assert(Artifacts.generation(name) === 0L,
      "build-once is generation-neutral")
    // the bump happens BEFORE the rebuild so the build closure itself
    // sees the new generation (its fit memo must re-derive, not persist
    // the stale entry back)
    var genInsideBuild = -1L
    Artifacts.refreshTable(spark, name, s"$dir/t") {
      genInsideBuild = Artifacts.generation(name)
      Seq((3, 4)).toDF("a", "b")
    }
    assert(genInsideBuild === 1L)
    assert(Artifacts.generation(name) === 1L)
    assert(rowSet(spark.table(name)) === Set(Seq(3, 4)))
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("drift -> refitIvfModel -> consume: the refit reaches the fit " +
      "memo, the persisted artifact, and the q169/q173 derived-index " +
      "memos, on a stamp-0 (non-local-shaped) corpus dir") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-artifacts-refit-").toString
    // the hazard shape: Spark resolves "file:/…" normally, but
    // java.io.File("file:/…") does not exist -> corpusStamp(dir) == 0,
    // so NOTHING in the memo keys moves when the corpus bytes change
    val dir = "file:" + base
    writeCorpus(s"$base/embeddings.parquet", shift = 0f)
    val tbl = Models.ivfModelTable(dir)

    val c1 = Models.registeredCentroids(spark, dir)
    // q174 persists the artifact (build-once); q169/q173 populate their
    // derived-index memos against the v1 model
    SparkEntry.queries("q174_knn_persisted")(spark, dir).collect()
    SparkEntry.queries("q169_knn_split")(spark, dir).collect()
    val autoPre = rowSet(SparkEntry.queries("q173_knn_auto")(spark, dir))

    // corpus drifts under the same dir: stamp 0 cannot see it — the
    // memo serves the v1 model (the documented pre-refit hazard, pinned
    // here so the refit's effect below is provably the generation's)
    writeCorpus(s"$base/embeddings.parquet", shift = 4f)
    val stale = Models.registeredCentroids(spark, dir)
    assert(stale.map(_._2.toSeq) === c1.map(_._2.toSeq),
      "without a refit the stamp-0 memo is stale by construction")

    Models.refitIvfModel(spark, dir)
    assert(Artifacts.generation(tbl) === 1L)

    // the fit memo re-derived on the drifted corpus
    val c2 = Models.registeredCentroids(spark, dir)
    assert(c2.map(_._2.toSeq) !== c1.map(_._2.toSeq),
      "refit must re-run the fit on the drifted corpus")
    // the persisted artifact serves the refreshed geometry
    val persisted = spark.table(tbl).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    assert(persisted === c2.map { case (cid, v) => (cid, v.toSeq) },
      "probe-after-refresh must read the refreshed model")

    // q173's derived-index memo carries the generation: the re-run must
    // equal a FRESH (memo-free) auto join over the refreshed model
    val corpus = Tables.cpuTable(spark, dir, "embeddings")
    val expectAuto = rowSet(graft.ops.Similarity.knnJoinIvfAuto(
      corpus, "vec_id", "embedding", k = 3, centroids = c2,
      nProbe = Models.IvfProbe, splitAbove = Models.SplitAbove,
      targetOcc = Models.SplitTargetOcc,
      splitIters = Models.SplitIters,
      maxCellOccupancy = Models.LshMaxBucket))
    val autoPost = rowSet(SparkEntry.queries("q173_knn_auto")(spark, dir))
    assert(autoPost === expectAuto,
      "post-refit q173 must serve the refreshed derived index")
    assert(autoPost !== autoPre,
      "fixture sanity: the drift actually changes the join " +
        "(otherwise this spec pins nothing)")
    // q169's refined-list memo likewise
    val expectSplit = rowSet(graft.ops.Similarity.knnJoinIvf(
      corpus, "vec_id", "embedding", k = 3,
      centroids = graft.ops.Similarity.refineHotCells(corpus, "vec_id",
        "embedding", c2, splitAbove = Models.SplitAbove,
        targetOcc = Models.SplitTargetOcc,
        iters = Models.SplitIters),
      nProbe = Models.IvfProbe,
      maxCellOccupancy = Models.LshMaxBucket))
    assert(rowSet(SparkEntry.queries("q169_knn_split")(spark, dir))
      === expectSplit)

    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"/tmp/graft_ivf_model/$tbl"))
    spark.sharedState.cacheManager.clearCache()
  }
}

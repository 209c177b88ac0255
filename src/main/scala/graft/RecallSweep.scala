package graft

import org.apache.spark.sql.functions._

/** Dev-only ANN recall/cost sweep over the sign-LSH knobs (signBits ×
  * probeHamming) on the fixture embeddings — the measurement behind the
  * registered q137/q46/q62 defaults: recall is a DATA property, so the
  * default is picked from this table, not from the paper (r14 measured
  * the old (8, H≤1) default at 24% mean recall@10 — not deployment
  * grade). Prints one JSON line per combo: mean recall_bp over the
  * 25-query sample, mean candidates scanned per query (the cost side),
  * and the wall time of one full evaluation pass. */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 25)
    val combos = for {
      bits <- Seq(4, 5, 6, 8); h <- Seq(0, 1, 2)
    } yield (bits, h)
    combos.foreach { case (bits, h) =>
      val t0 = System.nanoTime()
      val r = graft.ops.Similarity.annRecall(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, signBits = bits,
          probeHamming = h)
        .agg(avg(col("recall_bp")).as("r"), avg(col("n_found")).as("f"))
        .collect().head
      // cost: candidate rows the probe join scans (corpus rows whose cell
      // is within Hamming-h of the query's cell, summed over queries)
      val cells = emb.select(
        graft.ops.Similarity.signBucket(col("embedding"), bits).as("c"))
        .groupBy("c").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val qcells = queries.select(explode(graft.ops.Similarity.hammingProbes(
          graft.ops.Similarity.signBucket(col("embedding"), bits), bits, h))
          .as("c"))
        .collect().map(_.getLong(0))
      val scanned = qcells.map(c => cells.getOrElse(c, 0L)).sum / 25.0
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"""{"bits":$bits,"hamming":$h,"recall_bp":${r.getDouble(0)}%.0f,""" +
        f""""found":${r.getDouble(1)}%.1f,"scanned_per_query":$scanned%.0f,""" +
        f""""corpus":$n,"wall_s":$wall%.2f}""")
    }

    // IVF rows: recall@10 of ivfTopK against the same brute truth, with
    // the 8-seed coarse quantizer raw vs kmeansFitInt8-fitted — the
    // data-adapted cells are the recall-per-scanned-row comparison the
    // sign-LSH grid can't show
    val truth = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10).select(col("qid"), col("id"))
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    val fitted = graft.ops.Similarity.kmeansFitInt8(emb, "embedding", seeds, iters = 2)
    // centroid-count dimension: more cells = less scanned per probe —
    // the pruning-power lever (8 cells can never prune past 1/8)
    val fittedK = Seq(16, 32).map { kc =>
      val seedsK = emb.filter(col("vec_id") < kc)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
      s"ivf_fitted_k$kc" ->
        graft.ops.Similarity.kmeansFitInt8(emb, "embedding", seedsK, iters = 2)
    }
    for ((label, cents) <- Seq("ivf_seed" -> seeds, "ivf_fitted" -> fitted) ++ fittedK;
         nProbe <- Seq(1, 2, 4)) {
      val t0 = System.nanoTime()
      val approx = graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", cents, k = 10, nProbe = nProbe)
      val hit = truth.join(approx.select(col("qid"), col("id")), Seq("qid", "id"))
        .count()
      val wall = (System.nanoTime() - t0) / 1e9
      // cost: corpus rows in the probed cells, summed over queries —
      // the same scanned_per_query the sign-LSH rows report
      val assign = emb.select(graft.functions.NearestCentroidFn(
          col("embedding"), cents).as("c"))
        .groupBy("c").count().collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
      val qcells = queries.select(explode(graft.ops.Similarity.ivfProbes(
          col("embedding"), cents, nProbe)).as("c"))
        .collect().map(_.getInt(0))
      val qProbe = queries.count()  // 25 queries
      val scanned = qcells.map(c => assign.getOrElse(c, 0L)).sum / qProbe.toDouble
      println(f"""{"index":"$label","nprobe":$nProbe,""" +
        f""""recall_bp":${hit * 10000.0 / (qProbe * 10)}%.0f,""" +
        f""""cells":${assign.size},"scanned_per_query":$scanned%.0f,""" +
        f""""corpus":$n,"wall_s":$wall%.2f}""")
    }

    // Two-level (IMI) rows — recall parity vs the flat rows at equal
    // scanned fraction is the gate for the sublinear assignment: the
    // descent changes WHICH cells get probed (a true neighbor under an
    // undescended branch is lost), so the parity must be measured, not
    // assumed, and it is a CELL-COUNT-REGIME property (at 32 cells the
    // branches carry ~4 fines each — no hierarchy to exploit; the IMI
    // trade exists for the many-cells regime, so the sweep measures
    // both 32 and 128 cells).
    {
      import org.apache.spark.sql.expressions.Window
      val cents32 = fittedK.collectFirst { case ("ivf_fitted_k32", c) => c }.get
      val seeds128 = emb.filter(col("vec_id") < 128)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
      val cents128 =
        graft.ops.Similarity.kmeansFitInt8(emb, "embedding", seeds128, iters = 2)
      // flat k128 baseline rows (same instrument as the fitted_k rows)
      val qn = queries.count().toDouble
      for (nProbe <- Seq(4, 8, 16)) {
        val approx = graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", cents128, k = 10, nProbe = nProbe)
        val hit = truth.join(approx.select(col("qid"), col("id")),
          Seq("qid", "id")).count()
        val assign = emb.select(graft.functions.NearestCentroidFn(
            col("embedding"), cents128).as("c"))
          .groupBy("c").count().collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
        val qcells = queries.select(explode(graft.ops.Similarity.ivfProbes(
            col("embedding"), cents128, nProbe)).as("c"))
          .collect().map(_.getInt(0))
        val scanned = qcells.map(c => assign.getOrElse(c, 0L)).sum / qn
        println(f"""{"index":"ivf_fitted_k128","nprobe":$nProbe,""" +
          f""""recall_bp":${hit * 10000.0 / (qn * 10)}%.0f,""" +
          f""""cells":${assign.size},"scanned_per_query":$scanned%.0f,""" +
          f""""corpus":$n}""")
      }
      for ((kcLabel, cents, branches, bps, nProbes) <- Seq(
             ("k32_b8", cents32, 8, Seq(1, 2, 3, 4, 5), Seq(1, 2, 4)),
             ("k128_b16", cents128, 16, Seq(2, 4, 6), Seq(4, 8, 16)));
           (fitTops, replicas) <- Seq((false, 1), (true, 1), (true, 2), (true, 3));
           bp <- bps; nProbe <- nProbes) {
        val (tops, fines) =
          if (fitTops)
            graft.ops.Similarity.twoLevelIndexFitted(cents, branches,
              replicas = replicas)
          else graft.ops.Similarity.twoLevelIndex(cents, branches)
        val label = "ivf_2l_" + kcLabel +
          (if (fitTops) "_fit" else "") +
          (if (replicas > 1) s"_r$replicas" else "")
        val t0 = System.nanoTime()
        val items2 = emb.select(col("vec_id").as("id"), col("embedding"),
          graft.ops.Similarity.ivfCell2L(col("embedding"), tops, fines, bp)
            .as("c"))
        val q2 = queries.select(col("vec_id").as("qid"),
          col("embedding").as("qv"),
          explode(graft.ops.Similarity.ivfProbes2L(
            col("embedding"), tops, fines, bp, nProbe)).as("c"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("id").asc)
        val approx = items2.join(q2, Seq("c"))
          .filter(col("qid") =!= col("id"))
          .withColumn("cos",
            graft.ops.Similarity.cosine(col("embedding"), col("qv")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
        val hit = truth.join(approx.select(col("qid"), col("id")),
          Seq("qid", "id")).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val occ = items2.groupBy("c").count().collect()
          .map(x => x.getInt(0) -> x.getLong(1)).toMap
        val qcells = q2.select(col("c")).collect().map(_.getInt(0))
        val scanned = qcells.map(c => occ.getOrElse(c, 0L)).sum / qn
        println(f"""{"index":"$label","branch_probes":$bp,""" +
          f""""nprobe":$nProbe,"recall_bp":${hit * 10000.0 / (qn * 10)}%.0f,""" +
          f""""cells":${occ.size},"scanned_per_query":$scanned%.0f,""" +
          f""""corpus":$n,"wall_s":$wall%.2f}""")
      }
    }

    // Split-refined rows (r18, the hot-cell-splitting parity gate):
    // refine the fitted 32-cell index's over-occupancy cells
    // (splitAbove 40 / targetOcc 32 — q169's registered thresholds)
    // and measure recall across probe depths. Parity reads against the
    // flat ivf_fitted_k32 rows AT EQUAL scanned_per_query — the
    // refined index has more, smaller cells, so equal scan means more
    // (cheaper) probes; the question the gate answers is whether
    // splitting trades recall for its occupancy relief.
    {
      val seeds32 = emb.filter(col("vec_id") < 32)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
      val cents32 =
        graft.ops.Similarity.kmeansFitInt8(emb, "embedding", seeds32, iters = 2)
      val qn = queries.count().toDouble
      // sub-fit DEPTH is a recall knob: 1 round leaves sub-centroids
      // near their lowest-id seeds (true neighbors split across
      // sub-cells); deeper local Lloyd re-centers them on the hot
      // cell's actual sub-structure — both measured so the parity
      // claim is read off the table, not assumed
      for (subIters <- Seq(1, 2, 3)) {
        val refined = graft.ops.Similarity.refineHotCells(emb, "vec_id",
          "embedding", cents32, splitAbove = 40L, targetOcc = 32L,
          iters = subIters)
        val assign = emb.select(graft.functions.NearestCentroidFn(
            col("embedding"), refined).as("c"))
          .groupBy("c").count().collect()
          .map(x => x.getInt(0) -> x.getLong(1)).toMap
        for (nProbe <- Seq(1, 2, 4, 6, 8, 10, 12).filter(_ <= refined.size)) {
          val t0 = System.nanoTime()
          val approx = graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", refined, k = 10, nProbe = nProbe)
          val hit = truth.join(approx.select(col("qid"), col("id")),
            Seq("qid", "id")).count()
          val wall = (System.nanoTime() - t0) / 1e9
          val qcells = queries.select(explode(graft.ops.Similarity.ivfProbes(
              col("embedding"), refined, nProbe)).as("c"))
            .collect().map(_.getInt(0))
          val scanned = qcells.map(c => assign.getOrElse(c, 0L)).sum / qn
          println(f"""{"index":"ivf_split_k32_i$subIters","nprobe":$nProbe,""" +
            f""""recall_bp":${hit * 10000.0 / (qn * 10)}%.0f,""" +
            f""""cells":${assign.size},"scanned_per_query":$scanned%.0f,""" +
            f""""corpus":$n,"wall_s":$wall%.2f}""")
        }
      }
    }

    // REGISTERED-GEOMETRY occupancy sweep (r19 verdict task 7): the
    // derived default has exactly one constant — TargetCellOcc = 64,
    // from a single r18 sweep point — and it is the knob every 100 TB
    // consumer would tune first. Sweep it at FIXED SCAN BUDGET:
    // scanned rows per query ≈ nProbe × occupancy, so each occupancy
    // gets nProbe = budget / occ — the comparison isolates what the
    // occupancy ITSELF buys (finer cells at more probes vs coarser
    // cells at fewer) with the scan cost held level. Every fit is the
    // registered discipline verbatim: cells = ⌈n/occ⌉, 25% hash-sample
    // fit, seeds = the cells lowest SAMPLED ids, 2 Lloyd rounds.
    {
      val qn = queries.count().toDouble
      for (occ <- Seq(32, 64, 128); budget <- Seq(128, 256)) {
        val cells = math.max(2, math.ceil(n / occ.toDouble).toInt)
        val nProbe = math.max(1, math.round(budget / occ.toDouble).toInt)
        val all = emb.select(col("vec_id"), col("embedding"))
        // the r19 registered rule: full-corpus prefix seeds, fit on
        // the SampleFitFraction hash sample (constants referenced so
        // this table cannot drift from the shipped geometry)
        val seeds = all.orderBy(col("vec_id")).limit(cells)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .toSeq.sortBy(_._1)
        val cents = graft.ops.Similarity.kmeansFitInt8(all, "embedding",
          seeds, iters = 2, fitFraction = SparkEntry.SampleFitFraction,
          fitIdCol = "vec_id", fitSeed = "ivf")
        if (nProbe <= cents.size) {
          val t0 = System.nanoTime()
          val approx = graft.ops.Similarity.ivfTopK(emb, "vec_id",
            "embedding", queries, "vec_id", "embedding", cents,
            k = 10, nProbe = nProbe)
          val hit = truth.join(approx.select(col("qid"), col("id")),
            Seq("qid", "id")).count()
          val wall = (System.nanoTime() - t0) / 1e9
          val assign = emb.select(graft.functions.NearestCentroidFn(
              col("embedding"), cents).as("c"))
            .groupBy("c").count().collect()
            .map(x => x.getInt(0) -> x.getLong(1)).toMap
          val qcells = queries.select(explode(graft.ops.Similarity
              .ivfProbes(col("embedding"), cents, nProbe)).as("c"))
            .collect().map(_.getInt(0))
          val scanned = qcells.map(c => assign.getOrElse(c, 0L)).sum / qn
          println(f"""{"index":"ivf_occ${occ}_budget$budget",""" +
            f""""nprobe":$nProbe,""" +
            f""""recall_bp":${hit * 10000.0 / (qn * 10)}%.0f,""" +
            f""""cells":${assign.size},"scanned_per_query":$scanned%.0f,""" +
            f""""corpus":$n,"wall_s":$wall%.2f}""")
        }
      }
    }
    spark.stop()
  }
}

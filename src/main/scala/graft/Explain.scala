package graft

import graft.queries.Query

/** Plan-audit utility.
  *
  * Print mode (`runMain graft.Explain <sfDir> [query ...]`): prints the
  * formatted physical plan of the named queries (default: a representative
  * set) so scan pruning, pushed filters, broadcast joins, and
  * whole-stage-codegen spans can be inspected.
  *
  * Check mode (`runMain graft.Explain --check [sfDir]`): plan-regression
  * gate over EVERY registered query — fails (exit 1) on plan shapes that
  * are correct-but-wrong-at-scale and don't show up as test failures:
  *   - a `CartesianProduct` anywhere (an unconstrained all-pairs join;
  *     the only sanctioned cross join is against a broadcast-tiny query
  *     set, which plans as BroadcastNestedLoopJoin, not CartesianProduct);
  *   - a global-table join that is not a broadcast hash join (a shuffle
  *     of the big side against a dimension that fits in memory);
  *   - a CPU-heavy query (per-row hash/JSON/cosine work) whose plan lost
  *     its scatter exchange — on the single-row-group testdata layout the
  *     scan plans 1 partition, and without `RoundRobinPartitioning` all
  *     per-row work lands on one core regardless of cluster width;
  *   - a `SortAggregate` anywhere (hash aggregation silently fell back
  *     to sorting every group's rows — the `max_by(struct)` regression
  *     class repaired in r13, now permanently gated).
  */
object Explain {

  /** Joins against a broadcast-worthy global/dimension table. */
  private[graft] val MustBroadcast = Seq("q02_join_global_inner", "q03_join_global_left")

  /** Driver-safe output types — the r16 lesson (q145/q150): the driver's
    * hasher canonicalizes parquet values by type, and the only way the
    * local replica stays STRICTLY stricter than the driver is to pin the
    * emitted-type vocabulary to the set with round-green evidence. The
    * r15 regression emitted the surface's single DECIMAL(38,0) column;
    * values were exactly right and the driver still hashed red, because
    * decimal canonicalization differs between the driver and the local
    * DuckDB float64 round-trip. Decimal stays legal INSIDE a plan
    * (exact quadratic sums need it) — it must be cast to BIGINT/DOUBLE/
    * STRING before the final select. Arrays/structs of safe leaves are
    * safe (green since their introduction: q155's array<float>
    * centroids, q45's sketch struct). */
  private val SafeLeafTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(LongType, IntegerType, DoubleType, FloatType, StringType,
      BooleanType, DateType, TimestampType, BinaryType)
  }

  private def unsafeLeaves(dt: org.apache.spark.sql.types.DataType)
      : Seq[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case t if SafeLeafTypes.contains(t) => Nil
      case ArrayType(e, _)  => unsafeLeaves(e)
      case MapType(k, v, _) => unsafeLeaves(k) ++ unsafeLeaves(v)
      case StructType(fs)   => fs.toSeq.flatMap(f => unsafeLeaves(f.dataType))
      case other            => Seq(other.sql)
    }
  }

  /** Emitted-schema violations for one query (empty = clean): every
    * leaf type of every output column must be in [[SafeLeafTypes]].
    * Run by PlanGateSpec over the whole surface — analysis-only, the
    * schema comes from the logical plan without execution. */
  def schemaViolations(name: String,
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.flatMap { f =>
      unsafeLeaves(f.dataType).distinct.map(t =>
        s"output column `${f.name}` leaks non-driver-safe type $t " +
          "(cast to BIGINT/DOUBLE/STRING before the final select)")
    }

  /** Violations for one query's formatted physical plan (empty = clean).
    * Exposed so the test suite runs the same gate as `--check`. */
  def violations(name: String, plan: String): Seq[String] = Seq(
    Option.when(plan.contains("CartesianProduct"))(
      "CartesianProduct (unconstrained all-pairs join)"),
    Option.when(MustBroadcast.contains(name) && !plan.contains("BroadcastHashJoin"))(
      "global-table join is not a BroadcastHashJoin"),
    Option.when(SparkEntry.registry.get(name).exists(_.cpu == Query.Heavy) &&
        !plan.contains("RoundRobinPartitioning"))(
      "CPU-heavy query lost its scatter exchange (1-partition scan)"),
    // The r13 regression class, made standing: `max_by`/`max(struct)`
    // silently plan SortAggregate (a per-partition SORT of every group's
    // rows before each partial and final aggregate — at 100 TB that is
    // a corpus sort per aggregation stage). Every aggregate in the
    // registered surface must stay HashAggregate/ObjectHashAggregate
    // (argmax work goes through functions.ArgExtremum). No allowlist on
    // purpose: one new max_by(struct) call is exactly the regression
    // this rule exists to catch.
    Option.when(plan.contains("SortAggregate"))(
      "SortAggregate (hash aggregate fell back to per-group sort)")
  ).flatten

  def main(args: Array[String]): Unit = {
    val check = args.headOption.contains("--check")
    val rest = if (check) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession()

    def plan(n: String): String =
      SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

    if (check) {
      val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
        val df = SparkEntry.queries(n)(spark, sfDir)
        val errs = violations(n, df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)) ++
          schemaViolations(n, df.schema)
        errs.foreach(e => println(s"[plan-check] FAIL $n: $e"))
        if (errs.isEmpty) println(s"[plan-check] pass $n")
        errs.map(n -> _)
      }
      println(s"[plan-check] ${SparkEntry.queries.size - failures.map(_._1).distinct.size} ok, " +
        s"${failures.size} violations")
      spark.stop()
      if (failures.nonEmpty) sys.exit(1)
    } else {
      val names = if (rest.length > 1) rest.drop(1).toSeq
        else Seq("q01_agg_pricing", "q02_join_global_inner", "q10_asof_left",
          "q23_dedup_ngram", "q26_sim_topk", "q16_latest_per_key",
          "q53_repetition_quality", "q56_chunk_dedup", "q58_token_rarity")
      names.foreach { n =>
        println(s"\n========== $n ==========")
        println(plan(n))
      }
      spark.stop()
    }
  }
}
